package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.collections.Collections
import graft.functions._
import graft.ops.Search

/** §2.A scan/projection/limit + §1.2 schema semantics + §2.D JSON. */
private[graft] object ScanAndJson {
  import Fixtures._
  import graft.sources._

  val gates: Seq[Gate] = Seq(
    Gate("scan_select_star", (s, dir) =>
      hom(s, dir).select(col("id"), col("payload"),
        vq6(col("vector")).as("vector_q6")),
      s"""SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload,
        |       ${duckVq6("embedding")} AS vector_q6
        |FROM embeddings ORDER BY id""".stripMargin),

    Gate("scan_projection", (s, dir) =>
      hom(s, dir).select(col("id"), col("payload")),
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // A12 sink (todo!() in the reference): write the collection out, read
    // it back, project — the oracle (plain scan SQL over the SOURCE) only
    // matches if the round trip preserved every row and type
    Gate("sink_roundtrip", (s, dir) => {
      val path = tempDir("graft-sink")
      Collections.writeCollection(hom(s, dir), path)
      Collections.readCollection(s, path).select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    Gate("scan_limit", (s, dir) =>
      hom(s, dir).select(col("id"), vq6(col("vector")).as("vector_q6"))
        .orderBy(col("id").cast(LongType)).limit(5),
      s"""SELECT CAST(vec_id AS VARCHAR) AS id,
        |       ${duckVq6("embedding")} AS vector_q6
        |FROM embeddings ORDER BY vec_id LIMIT 5""".stripMargin),

    Gate("hetero_nulls", (s, dir) =>
      Collections.heterogeneous(s, dir).select(
        col("id"),
        col("payload"),
        vq6(col("text_embedding")).as("text_embedding_q6"),
        vq6(col("audio_embedding")).as("audio_embedding_q6"),
        iarr(col("keywords_indices")).as("keywords_indices_s"),
        vq6(col("keywords_values")).as("keywords_values_q6")),
      s"""SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload,
        |       CASE WHEN vec_id % 3 IN (0, 1) THEN ${duckVq6("embedding")} END AS text_embedding_q6,
        |       CASE WHEN vec_id % 3 = 2 THEN ${duckVq6("embedding")} END AS audio_embedding_q6,
        |       CASE WHEN vec_id % 3 <> 1 THEN
        |         array_to_string(list_transform(list_filter(range(1, len(embedding) + 1), i -> embedding[i] > 0), i -> CAST(i - 1 AS VARCHAR)), ',')
        |       END AS keywords_indices_s,
        |       CASE WHEN vec_id % 3 <> 1 THEN ${duckVq6("list_filter(embedding, x -> x > 0)")} END AS keywords_values_q6
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // one json_tuple parse feeds both typed extractions (json_get_* remain
    // the generic per-path API); no output sort — the gate sorts rows
    // A7 multi-vector normalization (reference deserialize.rs:41-58): a
    // flat embedding splits into `count` equal sub-vectors; serialized per
    // sub-vector for the scalar-cell gate
    Gate("multi_vector", (s, dir) =>
      hom(s, dir)
        .select(col("id"),
          multi_vector_from_flat(dvec(col("vector")), lit(4)).as("__mv"))
        .select(col("id"),
          size(col("__mv")).as("n_sub"),
          array_join(transform(col("__mv"),
            sv => array_join(transform(sv,
              x => floor(x * lit(1e6) + lit(0.5)).cast(StringType)), ",")), ";")
            .as("mv_q6")),
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       CAST(4 AS INTEGER) AS n_sub,
        |       CASE WHEN len(embedding) % 4 = 0 THEN
        |         array_to_string(list_transform(range(0, 4), i ->
        |           array_to_string(list_transform(
        |             CAST(embedding AS DOUBLE[])[i * (len(embedding) // 4) + 1 : (i + 1) * (len(embedding) // 4)],
        |             x -> CAST(CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS VARCHAR)), ',')), ';')
        |       END AS mv_q6
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    Gate("json_get", (s, dir) =>
      events(s, dir).select(col("event_id"), json_tuple(col("props"), "k").as("__k"))
        .select(
          col("event_id"),
          col("__k").as("k_str"),
          col("__k").cast(LongType).as("k_int")),
      """SELECT event_id,
        |       json_extract_string(props, '$.k') AS k_str,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
        |FROM events ORDER BY event_id""".stripMargin),

    Gate("json_filter_agg", (s, dir) =>
      events(s, dir)
        .filter(json_get_int(col("props"), "k") > 50)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"))).cast(StringType).as("sum_value")),
      """SELECT event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS sum_value
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    Gate("has_field", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          json_tuple(col("props"), "k", "missing").as(Seq("__k", "__m")))
        .select(
          col("event_id"),
          col("__k").isNotNull.as("has_k"),
          col("__m").isNotNull.as("has_missing")),
      """SELECT event_id,
        |       json_extract_string(props, '$.k') IS NOT NULL AS has_k,
        |       json_extract_string(props, '$.missing') IS NOT NULL AS has_missing
        |FROM events ORDER BY event_id""".stripMargin),

    // the backend filter DSL's full boolean surface in one predicate:
    // must (AND) + min_should (at least 2 of 4 conditions) + must_not
    // (AND NOT) — min_should compiles to a codegen'd integer sum, so the
    // whole filter stays one map-side predicate over the scan
    Gate("min_should_filter", (s, dir) =>
      docs(s, dir)
        .filter(col("n_chars") < lit(900) &&
          graft.functions.min_should(2,
            col("lang") === "en",
            col("source").isin("src0", "src1"),
            col("n_chars") > 200,
            col("text").contains("vector")) &&
          !(col("source") === "src5"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE n_chars < 900
        |  AND (CASE WHEN lang = 'en' THEN 1 ELSE 0 END +
        |       CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END +
        |       CASE WHEN n_chars > 200 THEN 1 ELSE 0 END +
        |       CASE WHEN contains(text, 'vector') THEN 1 ELSE 0 END) >= 2
        |  AND NOT (source = 'src5')
        |ORDER BY doc_id""".stripMargin),

    // GROUP BY a JSON-extracted value with COUNT/MAX/AVG (tests.sql:233-242)
    Gate("json_group_agg", (s, dir) =>
      events(s, dir)
        .withColumn("bucket", json_get_int(col("props"), "k") % 10)
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          max(col("value")).as("max_value"),
          round(sum(dec(col("value"))).cast(DoubleType) / count(lit(1)), 6).as("avg_value")),
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS bucket,
        |       COUNT(*) AS n,
        |       MAX(value) AS max_value,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_value
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin),

    // json_object_keys + json_array_length surface (§2.D). ONE Jackson
    // parse per row (from_json to map<string,string>) serves the key
    // list, the object length, and the '$.k' value — the previous form
    // parsed props 4x per row (json_object_keys + json_tuple + the
    // json_length pair), r19 guide §expressions. Non-object props (none
    // in the events data, but the declared semantics keep the dual
    // json_length form) fall through to json_array_length.
    Gate("json_surface", (s, dir) =>
      events(s, dir)
        .select(col("event_id"), col("props"),
          from_json(col("props"),
            MapType(StringType, StringType)).as("__m"))
        .select(
          col("event_id"),
          array_join(map_keys(col("__m")), ",").as("ks"),
          org.apache.spark.sql.functions.json_array_length(
            concat(lit("["), col("__m").getItem("k"), lit(","),
              col("__m").getItem("k"), lit("]"))).as("arr_len"),
          // json_length's OBJECT form (reference json pack counts keys
          // as well as array elements, udfs.rs:13-16)
          when(col("__m").isNotNull, size(map_keys(col("__m"))))
            .otherwise(org.apache.spark.sql.functions
              .json_array_length(col("props"))).as("obj_len")),
      """SELECT event_id,
        |       array_to_string(json_keys(props), ',') AS ks,
        |       CAST(json_array_length('[' || json_extract_string(props, '$.k') || ','
        |            || json_extract_string(props, '$.k') || ']') AS INTEGER) AS arr_len,
        |       CAST(len(json_keys(props)) AS INTEGER) AS obj_len
        |FROM events ORDER BY event_id""".stripMargin),

    // the DSv2 connector end-to-end: ingest the embeddings collection into
    // the (demo in-memory) collection store executor-side (fromRows — no
    // driver collect of the frame), scan it back through the connector
    // with a pruned projection, match the parquet oracle.
    Gate("dsv2_scan", (s, dir) => {
      CollectionStores.register("entry_store", homMemStore(s, dir))
      connectorRead(s, "entry_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // the STREAMING write path end-to-end: the same corpus ingested as a
    // bounded run (AvailableNow) of the continuous pipeline — file-stream
    // source -> per-epoch atomic upsert commits into the store -> read
    // back through the connector; must equal the batch-write oracle
    Gate("dsv2_stream_write", (s, dir) => {
      CollectionStores.register("stream_store", InMemoryCollectionStore.single(
        "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
      val src = homRows(s, dir)
      val tmp = tempDir("graft-stream-src")
      src.write.mode("overwrite").parquet(tmp)
      drain(s.readStream.schema(src.schema).parquet(tmp)
        .writeStream.format("graft.sources.CollectionDataSource")
        .option("store", "stream_store").option("collection", "embeddings"),
        tempDir("graft-stream-ckpt"))
      connectorRead(s, "stream_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // vector search END-TO-END through the connector: the query scans the
    // store (projection narrowed to id+vector by the FetchSpec), decodes
    // float vectors executor-side, and ranks by the codegen cosine kernel
    // — the only gate that value-checks vector DECODE through DSv2, not
    // just id/payload round-trips
    Gate("dsv2_vector_search", (s, dir) => {
      CollectionStores.register("vs_store", homMemStore(s, dir))
      val q = queryVector(s, dir, 4)
      connectorRead(s, "vs_store", "embeddings")
        .option("partitions", "4").load()
        .filter(col("id") =!= "4")
        .select(col("id"),
          round(v_cosine(dvec(col("vector")), vec(q)), 6).as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 4)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 4
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // TOP-K PUSHDOWN through the connector: the scan itself is the scored
    // query (`search.*` read options -> CollectionSearchScan -> store
    // .searchPoints) — the reference's architecture, where the ANN search
    // executes inside the backend and the table returns scored points
    // (the reference's src/table.rs:279-305). No full-collection decode
    // happens above the scan; PlanSpec asserts the plan carries the query.
    // the SECOND CollectionStore implementation behind the same
    // connector: a cold parquet-backed collection (the store handle is a
    // path + footers; executors read shared storage directly, nothing
    // ships through the driver). Same oracle as dsv2_scan — swapping the
    // backend under the seam must change nothing above it
    Gate("dsv2_parquet_store", (s, dir) => {
      CollectionStores.register("pq_store",
        Fixtures.parquetBackedStore(s, dir))
      connectorRead(s, "pq_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      // rank on RAW similarity (the store ranks unrounded, id tiebreak) and
      // round only for output — mirrors the pushed scan's contract exactly
      // cold store swap is invisible above the seam: same oracles as the
      // in-memory-backed dsv2_scan / dsv2_topk_pushdown
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // pushed top-k THROUGH the parquet-backed store: the scan is a scored
    // query served by the store's streaming-heap search over its own
    // files (id + vector columns only — the requested schema never
    // decodes payload bytes). Same oracle as dsv2_topk_pushdown
    Gate("dsv2_parquet_search", (s, dir) => {
      CollectionStores.register("pq_search_store",
        Fixtures.parquetBackedStore(s, dir))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "pq_search_store", "embeddings")
        .search("vector", q, "cosine", k = 12)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  ORDER BY s DESC, id ASC LIMIT 12)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // IVF serving INSIDE the store: the scan pushes the top-k query
    // through the CollectionStore seam and the parquet BACKEND answers it
    // from its sidecar index — centroid probe (a model-sized store read)
    // then a cluster-partition-pruned corpus read; the primary files are
    // never opened (spec-asserted via the filesOpened counters). This is
    // the reference's architecture end-to-end (scan = QueryPoints served
    // from the backend's own index, the reference's src/table.rs:279-302)
    // with the index ON SHARED STORAGE: at 100 TB a query reads
    // nprobe/nlist of the corpus instead of all of it. Deterministic
    // maxIter=0 chain, so the oracle value-checks the probed result.
    Gate("dsv2_parquet_ivf_search", (s, dir) => {
      CollectionStores.register("pq_ivf_store",
        Fixtures.parquetIvfStore(s, dir))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "pq_ivf_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the probed chain (same deterministic stages as ann_ivf_bucketed)
      // under the dsv2 search convention: RAW-score ranking, round-for-
      // display — the store heap's ordering
      DuckMirror.ivfSql(
      queryVecId = 7, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L, rawOrder = true)),

    // the payload index as the ACCESS PATH, store-side: a filtered
    // search whose must condition hits the indexed key (label, ~10% <
    // the 20% full_scan_threshold dial) serves from the index's value
    // partitions — exact top-k of the matching subset, NEITHER the
    // primary corpus files NOR the IVF clusters touched (spec-asserted).
    // The store now carries qdrant's two index families (vector +
    // payload) and dispatches between pre-filter / probed / full-scan
    // arms by the same cardinality rule as the engine-side Planner.
    Gate("dsv2_parquet_prefilter_search", (s, dir) => {
      CollectionStores.register("pq_ivf_store2",
        Fixtures.parquetIvfStore(s, dir))
      val q = queryVector(s, dir, 11)
      connectorRead(s, "pq_ivf_store2", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the pre-filter arm is EXACT over the matching subset, so the
      // oracle is a plain WHERE before the raw-rank top-k
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 11),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q WHERE e.label = 3
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // MULTIPLE payload indexes planned against each other, store-side:
    // qdrant keeps one payload index PER indexed field, so a filter
    // touching two indexed keys is a planning choice. The store carries
    // an int index on `label` and a keyword index on `parity`; the
    // filter hits both; the cheaper arm by footer-estimated cardinality
    // (label=3, ~9% of rows, under the 20% dial — parity=odd is 50%)
    // becomes the access path and the parity condition re-evaluates
    // residually inside its partitions. Exact filtered top-k, primary
    // files untouched (spec-asserted) — the engine Planner's
    // cardinality rule (ann_filtered_multi) now at the store seam.
    Gate("dsv2_parquet_multi_index", (s, dir) => {
      CollectionStores.register("pq_midx_store",
        Fixtures.parquetMultiIndexStore(s, dir))
      val q = queryVector(s, dir, 13)
      connectorRead(s, "pq_midx_store", "embeddings")
        .option("filter", "label:eq:3;parity:eq:odd")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // two payload indexes, cheapest-arm planning: the result is the
      // plain conjunctive WHERE — access-path choice must be invisible
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 13),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q WHERE e.label = 3 AND e.vec_id % 2 = 1
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // INDEX FRESHNESS under COW mutations: the store was upserted (5 new
    // label-3 points) and deleted from (label-3 ids with vec_id % 7 == 0)
    // AFTER the payload index was built, with no rebuild. The pre-filter
    // arm overlays the log tail recorded past the index's freshness
    // point: deleted ids masked out of the value partitions (window
    // widened so the post-mask page stays exact), the upserted points
    // scored from the in-memory tail and merged — qdrant's
    // unindexed-segment model over the lakehouse backend. The oracle is
    // the plain post-mutation WHERE: freshness must be invisible.
    Gate("dsv2_parquet_fresh_search", (s, dir) => {
      CollectionStores.register("pq_fresh_store",
        Fixtures.parquetFreshStore(s, dir))
      val q = queryVector(s, dir, 13)
      connectorRead(s, "pq_fresh_store", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // post-mutation state expressed as plain SQL: original label-3 rows
      // minus the deleted (vec_id % 7 == 0) plus the 5 upserts (ids
      // 100000+vec_id, label forced 3) — the stale-index overlay must
      // reproduce exactly this
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 13),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE label = 3 AND vec_id % 7 <> 0
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // the OPTIMIZER closing the freshness loop: same mutations as
    // dsv2_parquet_fresh_search in a twin dir, then
    // ParquetCollectionStore.optimize rebuilds the label index from the
    // COW-current primaries and re-seals it at the current log head —
    // the reopened store serves the filtered search index-pruned again
    // with an EMPTY overlay tail (spec-asserted: footer-only counts
    // return, the upserted points now live in value partitions). Same
    // oracle as the fresh gate: index, mutate, optimize — results
    // identical at every stage of the lifecycle
    Gate("dsv2_parquet_optimized", (s, dir) => {
      CollectionStores.register("pq_opt_store",
        Fixtures.parquetOptimizedStore(s, dir))
      val q = queryVector(s, dir, 13)
      connectorRead(s, "pq_opt_store", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // after the optimizer, the same post-mutation WHERE — the lifecycle
      // stage (stale-index overlay vs rebuilt index) must be invisible
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 13),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE label = 3 AND vec_id % 7 <> 0
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // the OPTIMIZE VERB over the wire: the same mutated lakehouse dir
    // behind a binary server, the client triggers the rebuild remotely
    // (zero data crosses — the service reseals its own sidecars at its
    // log head), then the filtered search serves index-pruned through
    // the wire. Same oracle as dsv2_parquet_optimized: the lifecycle
    // stage AND the transport must both be invisible
    Gate("dsv2_grpc_optimized", (s, dir) => {
      val (h, p) = Fixtures.grpcOptimizedAddr(s, dir)
      CollectionStores.register("grpc_opt_store",
        new GrpcCollectionStore(h, p))
      val q = queryVector(s, dir, 13)
      connectorRead(s, "grpc_opt_store", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the optimize VERB shipped over the wire before the same serve —
      // transport and lifecycle stage both invisible
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 13),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE label = 3 AND vec_id % 7 <> 0
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // the INSERTION-ORDER HNSW served AT THE STORE SEAM: pushed cosine
    // top-k walks each segment's resident graph (greedy descent +
    // efSearch beam touch ~ef·m·levels vectors, never the corpus) and
    // the per-segment pages merge — the reference backend's per-shard
    // HNSW serving model on the lakehouse store. At the fixture's
    // generous efSearch every segment recovers its true top-k, so the
    // exact brute-force SQL oracles it (build fully seeded — stable)
    Gate("dsv2_parquet_hnsw_search", (s, dir) => {
      CollectionStores.register("pq_hnsw_store",
        Fixtures.parquetHnswStore(s, dir))
      val q = queryVector(s, dir, 11)
      connectorRead(s, "pq_hnsw_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the store-served per-segment HNSW walk recovers the exact top-k
      // at the fixture's efSearch — plain brute-force SQL is the oracle
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 11)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 11
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // FILTERED HNSW, the backend's filtrable-HNSW planner at the store
    // seam (the reference's tests/bin/config.yaml:169-191 fronts exactly
    // this index): the label condition resolves to an exact id set from
    // the payload index's value partitions (id columns only), and the
    // serve plans by COST — the ACCEPTING WALK (every node navigates,
    // only matching ids enter the beam, ef widened by the inverse match
    // fraction) only when the matched set exceeds the widened beam it
    // would visit, the exact micro-path otherwise (at this fixture's
    // generous ef the broad ~80% filter itself sits under the widened
    // beam at sf0.01 and rides the walk at sf0.1 — both arms hold the
    // same exact oracle). The count-only label index can't feed the
    // pre-filter arm, so the graph serve owns the filter.
    Gate("dsv2_parquet_hnsw_filtered", (s, dir) => {
      CollectionStores.register("pq_hnswf_store",
        Fixtures.parquetHnswFilteredStore(s, dir))
      val q = queryVector(s, dir, 11)
      connectorRead(s, "pq_hnswf_store", "embeddings")
        .option("filter", "label:lte:7")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // filtered HNSW: the oracle is the plain exact filtered top-k —
      // the index resolution, planner arm, and walk must be invisible
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 11)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 11 AND e.label <= 7
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // EUCLID served from the graph: the sidecar records its build
    // metric, the serve matches queries to it, and the walk runs on
    // negated-distance preference — the graph family is metric-complete
    // like the IVF family. Ascending merge, exact at this ef
    Gate("dsv2_parquet_hnsw_euclid", (s, dir) => {
      CollectionStores.register("pq_hnswe_store",
        Fixtures.parquetHnswEuclidStore(s, dir))
      val q = queryVector(s, dir, 5)
      connectorRead(s, "pq_hnswe_store", "embeddings")
        .search("vector", q, "euclid", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // euclid HNSW: ascending exact oracle (distance metric)
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 5)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 11
        |ORDER BY score ASC, id ASC LIMIT 10""".stripMargin),

    // the NARROW leg of the same planner: label=3 (~10%) is under the
    // micro-path dial, so the matched ids score exactly from the
    // segment partitions — the graph never walks (spec-asserted by
    // counter) — qdrant's below-full-scan-threshold arm inside the
    // HNSW serve
    Gate("dsv2_parquet_hnsw_filtered_narrow", (s, dir) => {
      CollectionStores.register("pq_hnswf_store",
        Fixtures.parquetHnswFilteredStore(s, dir))
      val q = queryVector(s, dir, 13)
      connectorRead(s, "pq_hnswf_store", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 13)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 11 AND e.label = 3
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the QUANTIZED serving tier on the GRAPH family: the walk runs
    // over the per-segment int8 codes (8x fewer resident bytes — the
    // backend's quantized-in-RAM HNSW memory configuration), then an
    // exact rescore of only the candidate margin recovers the
    // full-precision page, so the plain brute oracle pins it.
    // Spec asserts the full-precision vector cache never loads and the
    // resident bytes shrink ~8x at equal results.
    Gate("dsv2_parquet_hnsw_quantized", (s, dir) => {
      CollectionStores.register("pq_hnswq_store",
        Fixtures.parquetHnswQuantStore(s, dir))
      val q = queryVector(s, dir, 17)
      connectorRead(s, "pq_hnswq_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // quantized HNSW serve: the int8 walk + exact margin rescore must
      // recover exactly the full-precision page — plain brute oracle
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 17)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 17
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // INCREMENTAL HNSW MAINTENANCE: inserts, an update, and a delete
    // applied AFTER the graph build all absorb into the per-segment
    // graphs (inserts run the build's own insert loop; churn
    // consolidates the touched segment — the backend's online HNSW
    // maintenance; the fixture REQUIRES the watermark reached the log
    // head), so this search runs post-churn with an EMPTY overlay
    // tail: pure graph walk, no tail brute-rescore, ranking exactly
    // where the brute oracle over the FINAL state puts it
    Gate("dsv2_parquet_hnsw_fresh", (s, dir) => {
      CollectionStores.register("pq_hnswfr_store",
        Fixtures.parquetHnswFreshStore(s, dir))
      val q = queryVector(s, dir, 19)
      connectorRead(s, "pq_hnswfr_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // incremental HNSW maintenance: the post-churn graph serve (5 new
      // points absorbed, id 7 updated to vec_id 42's vector, id 13
      // deleted) must rank exactly where brute force over the FINAL
      // state does
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 19),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // WIRE-SERVED ONLINE MAINTENANCE: the hnsw_fresh churn driven
    // entirely through the REST client — remote upserts/deletes absorb
    // into the SERVICE-side per-segment graphs (the fixture REQUIRES
    // the watermark reached the log head), and this remote search
    // serves graph-walked over the final state. The four maintained
    // sidecar families hold through the wire seam, not just in-process.
    Gate("dsv2_rest_hnsw_fresh", (s, dir) => {
      val client = new RestCollectionStore(
        Fixtures.restHnswFreshUrl(s, dir))
      CollectionStores.register("rest_hnswfresh_client", client)
      val q = queryVector(s, dir, 19)
      connectorRead(s, "rest_hnswfresh_client", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // wire-served maintenance parity: same churned-state brute oracle
      // as dsv2_parquet_hnsw_fresh — the wire seam must be invisible
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 19),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // INCREMENTAL IVF MAINTENANCE — the hnsw_fresh discipline on the
    // OTHER ANN family: churn (inserts by nearest-centroid assignment,
    // an update consolidating its old cluster, a tombstoned delete)
    // absorbs into the cluster partitions (fixture REQUIRES the
    // watermark reached the log head), and the post-churn probed serve
    // at nprobe = nlist is exact over the final state
    Gate("dsv2_parquet_ivf_fresh", (s, dir) => {
      CollectionStores.register("pq_ivffr_store",
        Fixtures.parquetIvfFreshStore(s, dir))
      val q = queryVector(s, dir, 29)
      connectorRead(s, "pq_ivffr_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // incremental IVF maintenance: post-churn probed serve at
      // nprobe = nlist must rank exactly where brute force over the
      // FINAL state does
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 29),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // INCREMENTAL SPARSE MAINTENANCE: churn (inserts into their dim
    // buckets, an update consolidating its old dims' buckets, a
    // tombstoned delete) absorbs into the postings sidecar (fixture
    // REQUIRES the watermark reached the log head), so this pushed
    // sparse top-k serves bucket-pruned with an EMPTY overlay tail —
    // exact vs the brute sparse-dot oracle over the FINAL state
    Gate("dsv2_parquet_sparse_fresh", (s, dir) => {
      CollectionStores.register("pq_spfr_store",
        Fixtures.parquetSparseFreshStore(s, dir))
      val (ki, kv) = sparseOf(col("embedding"))
      val qRow = Tables.load(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(ki.as("qi"), kv.as("qv")).head()
      val qi = qRow.getSeq[Int](0)
      val qv = qRow.getSeq[Double](1)
      connectorRead(s, "pq_spfr_store", "embeddings")
        .option("search.field", "kw")
        .option("search.sparseIndices", qi.mkString(","))
        .option("search.vector", vectorOpt(qv))
        .option("search.k", "10")
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // incremental sparse maintenance: the post-churn bucket-pruned
      // sparse dot must rank exactly where brute force over the FINAL
      // state does (ids 1..4 re-inserted as 100001..100004, id 7 takes
      // vec_id 42's positives, id 13 deleted; id 0 is the query and was
      // never in the corpus)
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id, embedding AS emb
        |  FROM embeddings WHERE vec_id NOT IN (0, 7, 13)
        |  UNION ALL
        |  SELECT '7', e.embedding FROM embeddings e WHERE e.vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR), embedding
        |  FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
        |top AS (
        |  SELECT * FROM (
        |    SELECT id,
        |           list_sum(list_transform(range(1, len(emb) + 1),
        |                 i -> CASE WHEN emb[i] > 0 AND q.qv[i] > 0
        |                      THEN CAST(emb[i] AS DOUBLE) * q.qv[i] ELSE 0.0 END)) AS s
        |    FROM base, q)
        |  WHERE s > 0 ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // INCREMENTAL PAYLOAD-INDEX MAINTENANCE: churn (inserts into their
    // value partition, an update MOVING value partitions, a tombstoned
    // delete) absorbs into the covering label index (fixture REQUIRES
    // the watermark reached the log head), so this filtered search
    // serves from the value partitions with an EMPTY overlay tail —
    // pre-filter-as-access-path under churn, exact vs the brute
    // filtered oracle over the FINAL state
    Gate("dsv2_parquet_pidx_fresh", (s, dir) => {
      CollectionStores.register("pq_pidxfr_store",
        Fixtures.parquetPidxFreshStore(s, dir))
      val q = queryVector(s, dir, 31)
      connectorRead(s, "pq_pidxfr_store", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // incremental payload-index maintenance: the post-churn filtered
      // top-k must rank exactly where the brute filtered oracle over the
      // FINAL state does (id 7 updated INTO label 3 with vec_id 42's
      // vector, id 13 — label 3 at sf0.01 — deleted, 5 label-3 inserts)
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 31),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(e.embedding AS DOUBLE[]), 3
        |  FROM embeddings e WHERE e.vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[]), 3
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  WHERE label = 3
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // SPARSE top-k pushed THROUGH the connector to the lakehouse store:
    // the scan ships qdrant's {indices, values} query form, the store
    // answers from its dim-bucketed postings sidecar (the scan IS the
    // index query, the sparse leg of the reference's src/table.rs:279-302)
    // — only the query dims' buckets are read, the primary files feed
    // just the winners' fetch. Scores are the same ascending-dim fold as
    // the v_sparse_dot kernel, so the brute oracle reproduces them
    Gate("dsv2_parquet_sparse_search", (s, dir) => {
      CollectionStores.register("pq_sparse_store",
        Fixtures.parquetSparseStore(s, dir))
      val (ki, kv) = sparseOf(col("embedding"))
      val qRow = Tables.load(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(ki.as("qi"), kv.as("qv")).head()
      val qi = qRow.getSeq[Int](0)
      val qv = qRow.getSeq[Double](1)
      connectorRead(s, "pq_sparse_store", "embeddings")
        .option("search.field", "kw")
        .option("search.sparseIndices", qi.mkString(","))
        .option("search.vector", vectorOpt(qv))
        .option("search.k", "10")
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // sparse_inverted_search's brute mirror in the dsv2 raw-rank form
      // (the store ranks unrounded, rounds for display); the 0.0 CASE arms
      // keep list_sum's ascending fold identical to the sorted-merge
      // kernel, and s > 0 is exactly "shares a nonzero dim"
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |top AS (
        |  SELECT * FROM (
        |    SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |           list_sum(list_transform(range(1, len(e.embedding) + 1),
        |                 i -> CASE WHEN e.embedding[i] > 0 AND q.qv[i] > 0
        |                      THEN CAST(e.embedding[i] AS DOUBLE) * q.qv[i] ELSE 0.0 END)) AS s
        |    FROM embeddings e, q WHERE e.vec_id <> 0)
        |  WHERE s > 0 ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // the QUANTIZED serving tier inside the store: pushed dot top-k runs
    // int8 candidates over the codes sidecar of the probed clusters
    // (~4x fewer bytes than the full-precision replica) then an exact
    // rerank of only the winners — with candidateK=100 margin the result
    // equals the exact top-10 of the probed clusters, so the same
    // deterministic maxIter=0 mirror oracles it (the ann_ivf_quantized
    // argument, now store-served). Spec asserts both stages are
    // cluster-pruned and the candidate read is the codes files.
    Gate("dsv2_parquet_ivf_quantized", (s, dir) => {
      CollectionStores.register("pq_ivfq_store",
        Fixtures.parquetIvfQuantizedStore(s, dir))
      val q = queryVector(s, dir, 9)
      connectorRead(s, "pq_ivfq_store", "embeddings")
        .search("vector", q, "dot", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the quantized tier's candidate margin must contain the exact dot
      // top-10 of the probed clusters — same mirror as ann_ivf_quantized,
      // raw-rank form (the store serves raw scores, rounds for display)
      DuckMirror.ivfSql(
      queryVecId = 9, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L, metric = "dot", rawOrder = true)),

    // the quantized tier x payload filter COMPOSITION: int8 candidates
    // from the probed clusters' codes files (cut pre-filter at a full
    // candidate margin), conditions evaluated at the exact-rerank fetch
    // — WHERE-before-ORDER over the probed subset; primaries stay closed
    // (spec-asserted). candidateK is the recall dial exactly as in the
    // unfiltered tier
    Gate("dsv2_parquet_ivf_quantized_filtered", (s, dir) => {
      CollectionStores.register("pq_ivfqf_store",
        Fixtures.parquetIvfQuantizedFilteredStore(s, dir))
      val q = queryVector(s, dir, 9)
      connectorRead(s, "pq_ivfqf_store", "embeddings")
        .option("filter", "label:gte:4")
        .search("vector", q, "dot", k = 8)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // quantized tier x payload filter: the probed-IVF mirror with the
      // condition applied BEFORE the rank (full candidate margin => exact)
      DuckMirror.ivfSql(
      queryVecId = 9, k = 8, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L, metric = "dot", rawOrder = true,
      whereSql = "fe.label >= 4")),

    // BM25-RANKED full-text serving at the store seam (`textrank.*` read
    // options): the scan IS the ranked query — the store reads ONLY the
    // query terms' token buckets of its tf/dl text sidecar (df = posting
    // length, N/Σdl from the meta), scores with the searchPostings
    // arithmetic, and returns the k best (id, _score). Shares
    // inverted_search's oracle: the engine-side postings path and the
    // store-seam serve must agree bit for bit
    Gate("dsv2_parquet_text_rank", (s, dir) => {
      CollectionStores.register("pq_textrank_store",
        Fixtures.parquetTextRankStore(s, dir))
      connectorRead(s, "pq_textrank_store", "documents")
        .option("textrank.key", "body")
        .option("textrank.terms", "window,batch,scan")
        .option("textrank.k", "15")
        .load()
        .select(col("id").cast(LongType).as("doc_id"),
          col("_score").as("bm25"))
    },
      // the SAME ranked result served from the parquet store's text
      // sidecar (tf/dl postings + meta stats): one oracle, two paths —
      // engine-side partition-pruned postings scan and store-side
      // token-bucket serve must agree bit for bit
      InvertedSearchOracle),

    // DISTRIBUTED BM25, TWO-PHASE: the documents corpus sharded over 3
    // parquet members, EACH with its own postings sidecar over its
    // slice. Phase 1 exchanges GLOBAL stats (N, Σdl, per-term dfs — a
    // few dozen bytes, summed across shards); phase 2 has each shard
    // rank ITS candidates with the global stats and return only its
    // top-k, so the merge sees at most shards·k rows however common the
    // terms. Per-shard reads stay the query terms' token buckets of
    // that shard only; the global rank is provably the unsharded one,
    // so the oracle is shared a fourth time
    Gate("dsv2_sharded_text_rank", (s, dir) => {
      CollectionStores.register("sharded_tr_store",
        Fixtures.shardedTextRankStore(s, dir))
      connectorRead(s, "sharded_tr_store", "documents")
        .option("textrank.key", "body")
        .option("textrank.terms", "window,batch,scan")
        .option("textrank.k", "15")
        .load()
        .select(col("id").cast(LongType).as("doc_id"),
          col("_score").as("bm25"))
    },
      // ... and sharded: partials merge exactly, same oracle once more
      InvertedSearchOracle),

    // the same ranked query THROUGH the binary wire: one framed round
    // trip, the service reads its text-sidecar postings, only the k
    // scored hits cross — same oracle again (transport invisible)
    Gate("dsv2_grpc_text_rank", (s, dir) => {
      val (h, p) = Fixtures.grpcTextRankAddr(s, dir)
      CollectionStores.register("grpc_textrank_store",
        new GrpcCollectionStore(h, p))
      connectorRead(s, "grpc_textrank_store", "documents")
        .option("textrank.key", "body")
        .option("textrank.terms", "window,batch,scan")
        .option("textrank.k", "15")
        .load()
        .select(col("id").cast(LongType).as("doc_id"),
          col("_score").as("bm25"))
    },
      // ... and through the binary wire: transport invisible, same oracle
      InvertedSearchOracle),

    // FILTERED facets (qdrant's facet-with-filter form) ACROSS SHARDS:
    // the payload filter rides every page call and targeted pass of the
    // threshold merge — the distribution and the filter compose
    // invisibly over the plain filtered GROUP BY
    Gate("dsv2_facet_filtered", (s, dir) => {
      import s.implicits._
      val frame = homRows(s, dir)
      val members = (0 until 3).map { i =>
        InMemoryCollectionStore.fromRows(
          frame.filter(shardOf3(col("id")) === i),
          "embeddings", Collections.homogeneousDescriptor)
      }
      new ShardedCollectionStore(members)
        .facetCounts("embeddings", "label", limit = 5,
          PayloadFilter(Seq(PayloadCondition("label", "gte", "3")),
            Nil, None))
        .toDF("value", "n")
    },
      // filtered facets across shards: the filtered GROUP BY
      """SELECT CAST(label AS VARCHAR) AS value, count(*) AS n
        |FROM embeddings WHERE label >= 3
        |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 5""".stripMargin),

    // FACETS from the payload index: the histogram is the keyword
    // index's value-partition FOOTER row counts under the shared facet
    // rendering — zero corpus bytes decode (spec-asserted), the
    // backend's /points/facet served from its payload index
    Gate("dsv2_parquet_facet", (s, dir) => {
      import s.implicits._
      Fixtures.parquetMultiIndexStore(s, dir)
        .facetCounts("embeddings", "parity", limit = 3)
        .toDF("value", "n")
    },
      // index-served facets: footer counts must equal the plain GROUP BY
      """SELECT CASE WHEN vec_id % 2 = 1 THEN 'odd' ELSE 'even' END AS value,
        |       count(*) AS n
        |FROM embeddings
        |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 3""".stripMargin),

    // filtered COUNT(*) pushdown landing on the payload index: the
    // aggregate collapses to CollectionFilteredCountScan, the store
    // answers from the index's value partitions (footer row counts +
    // residual-free condition — no corpus bytes decoded), one row
    // crosses the scan
    Gate("dsv2_parquet_indexed_count", (s, dir) => {
      CollectionStores.register("pq_ivf_store3",
        Fixtures.parquetIvfStore(s, dir))
      connectorRead(s, "pq_ivf_store3", "embeddings")
        .option("filter", "label:gte:7")
        .load()
        .agg(count(lit(1)).as("n"))
    },
      "SELECT count(*) AS n FROM embeddings WHERE label >= 7"),

    // GEO payload index at the store seam: a geo_box filter prunes the
    // read to the cells whose grid rectangle intersects the box (the
    // coverCells property), the exact predicate re-evaluates inside the
    // pruned partitions, and the covering sidecar serves the filtered
    // top-k with the primary files closed (spec-asserted) — qdrant's
    // `geo` payload index kind over the lakehouse backend
    Gate("dsv2_parquet_geo_search", (s, dir) => {
      CollectionStores.register("pq_geo_store",
        Fixtures.parquetGeoStore(s, dir))
      val q = queryVector(s, dir, 21)
      connectorRead(s, "pq_geo_store", "embeddings")
        .option("filter", "loc:geo_box:10,-40,-10,20")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the derived lattice re-expressed in DuckDB arithmetic; the box
      // bounds are the filter's (top=10, left=-40, bottom=-10, right=20)
      """WITH pts AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v,
        |         (vec_id % 120) - 60 + 0.25 AS la,
        |         ((vec_id * 7) % 320) - 160 + 0.25 AS lo
        |  FROM embeddings),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id = 21),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s
        |  FROM pts, q
        |  WHERE la >= -10 AND la <= 10 AND lo >= -40 AND lo <= 20
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // INCREMENTAL TEXT-INDEX MAINTENANCE (the FIFTH maintained family):
    // churn (inserts with new tokens, a token-moving update, a
    // tombstoned delete) absorbs into the token buckets with LIVE BM25
    // stats (fixture REQUIRES the watermark reached the log head), so
    // this match_text-filtered search resolves candidates from the
    // maintained postings with an EMPTY overlay tail — exact vs the
    // brute filtered oracle over the FINAL state
    Gate("dsv2_parquet_text_fresh", (s, dir) => {
      CollectionStores.register("pq_textfr_store",
        Fixtures.parquetTextFreshStore(s, dir))
      val q = queryVector(s, dir, 37)
      connectorRead(s, "pq_textfr_store", "embeddings")
        .option("filter", "body:match_text:alpha w3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // incremental text maintenance: the post-churn match_text-filtered
      // top-k must rank exactly where the brute filtered oracle over the
      // FINAL state does (w3 tokens = label 3 originals + the updated '7'
      // + the five inserts; 13 deleted)
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 37),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(e.embedding AS DOUBLE[]), 3
        |  FROM embeddings e WHERE e.vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[]), 3
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  WHERE label = 3
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // INCREMENTAL GEO-INDEX MAINTENANCE (the SIXTH maintained family):
    // churn (inserts inside the box, a cell-moving update INTO the box,
    // a tombstoned delete of an in-box point) absorbs into the Morton
    // cells (fixture REQUIRES the watermark reached the log head), so
    // this box-filtered search serves cell-pruned over the FINAL state
    Gate("dsv2_parquet_geo_fresh", (s, dir) => {
      CollectionStores.register("pq_geofr_store",
        Fixtures.parquetGeoFreshStore(s, dir))
      val q = queryVector(s, dir, 27)
      connectorRead(s, "pq_geofr_store", "embeddings")
        .option("filter", "loc:geo_box:10,-40,-10,20")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // incremental geo maintenance: the post-churn box-filtered top-k
      // must rank exactly where the brute oracle over the FINAL state
      // does (7 moved INTO the box, 64 — inside the box — deleted, five
      // inserts at (5.25, -15.25))
      """WITH pts AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v,
        |         (vec_id % 120) - 60 + 0.25 AS la,
        |         ((vec_id * 7) % 320) - 160 + 0.25 AS lo
        |  FROM embeddings WHERE vec_id NOT IN (7, 64)
        |  UNION ALL
        |  SELECT '7', CAST(e.embedding AS DOUBLE[]), 0.25, -10.25
        |  FROM embeddings e WHERE e.vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[]), 5.25, -15.25
        |  FROM embeddings WHERE vec_id < 5),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id = 27),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s
        |  FROM pts, q
        |  WHERE la >= -10 AND la <= 10 AND lo >= -40 AND lo <= 20
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // WIRE STORAGE SNAPSHOT + RECOVER: the churned store archives and
    // recovers entirely SERVICE-side (two wire verbs — the backend's
    // per-node snapshot/recover API; the artifact never crosses the
    // wire), the service swaps to the recovered store, and this remote
    // search is graph-served over the churned state — snapshot,
    // recover, and the wire seam all invisible vs the brute oracle
    Gate("dsv2_rest_storage_snapshot", (s, dir) => {
      val client = new RestCollectionStore(
        Fixtures.restStorageSnapUrl(s, dir))
      CollectionStores.register("rest_snapstore_client", client)
      val q = queryVector(s, dir, 31)
      connectorRead(s, "rest_snapstore_client", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // wire storage snapshot/recover: the service-side archive + store
      // swap must be invisible — same churned-state brute oracle family
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 31),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // WIRE-SERVED TEXT MAINTENANCE PARITY: the text_fresh churn driven
    // entirely through the REST client — remote upserts tokenize
    // service-side, the LIVE BM25 stats track (fixture-REQUIREd), and
    // this remote match_text-filtered search resolves from the
    // maintained postings. Same brute oracle as dsv2_parquet_text_fresh
    // — the wire seam must be invisible for the fifth family too.
    Gate("dsv2_rest_text_fresh", (s, dir) => {
      val client = new RestCollectionStore(
        Fixtures.restTextFreshUrl(s, dir))
      CollectionStores.register("rest_textfresh_client", client)
      val q = queryVector(s, dir, 37)
      connectorRead(s, "rest_textfresh_client", "embeddings")
        .option("filter", "body:match_text:alpha w3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // wire text maintenance parity: same churned-state brute oracle as
      // dsv2_parquet_text_fresh — the wire seam must be invisible
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 37),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(e.embedding AS DOUBLE[]), 3
        |  FROM embeddings e WHERE e.vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[]), 3
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  WHERE label = 3
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // BINARY-WIRE TEXT MAINTENANCE PARITY: the same churn through the
    // gRPC client — with dsv2_rest_text_fresh this closes maintenance
    // parity on BOTH transports; same brute oracle
    Gate("dsv2_grpc_text_fresh", (s, dir) => {
      val (h, p) = Fixtures.grpcTextFreshAddr(s, dir)
      CollectionStores.register("grpc_textfresh_client",
        new GrpcCollectionStore(h, p))
      val q = queryVector(s, dir, 37)
      connectorRead(s, "grpc_textfresh_client", "embeddings")
        .option("filter", "body:match_text:alpha w3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // binary-wire text maintenance parity: same oracle as the REST twin
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 37),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(e.embedding AS DOUBLE[]), 3
        |  FROM embeddings e WHERE e.vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[]), 3
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  WHERE label = 3
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // WIRE-SERVED GEO MAINTENANCE PARITY: the geo_fresh churn driven
    // entirely through the REST client — remote inserts land in their
    // Morton cells service-side (fixture-REQUIREd watermark at head),
    // and this remote box-filtered search serves cell-pruned over the
    // FINAL state. Same brute oracle as dsv2_parquet_geo_fresh — the
    // sixth family holds through the wire seam too.
    Gate("dsv2_rest_geo_fresh", (s, dir) => {
      val client = new RestCollectionStore(
        Fixtures.restGeoFreshUrl(s, dir))
      CollectionStores.register("rest_geofresh_client", client)
      val q = queryVector(s, dir, 27)
      connectorRead(s, "rest_geofresh_client", "embeddings")
        .option("filter", "loc:geo_box:10,-40,-10,20")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // wire geo maintenance parity: same churned-state brute oracle as
      // dsv2_parquet_geo_fresh — the wire seam must be invisible
      """WITH pts AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v,
        |         (vec_id % 120) - 60 + 0.25 AS la,
        |         ((vec_id * 7) % 320) - 160 + 0.25 AS lo
        |  FROM embeddings WHERE vec_id NOT IN (7, 64)
        |  UNION ALL
        |  SELECT '7', CAST(e.embedding AS DOUBLE[]), 0.25, -10.25
        |  FROM embeddings e WHERE e.vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[]), 5.25, -15.25
        |  FROM embeddings WHERE vec_id < 5),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id = 27),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s
        |  FROM pts, q
        |  WHERE la >= -10 AND la <= 10 AND lo >= -40 AND lo <= 20
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // BINARY-WIRE GEO MAINTENANCE PARITY: the geo_fresh churn through
    // the gRPC client — with dsv2_rest_geo_fresh this closes geo
    // maintenance parity on BOTH transports; same brute oracle
    Gate("dsv2_grpc_geo_fresh", (s, dir) => {
      val (h, p) = Fixtures.grpcGeoFreshAddr(s, dir)
      CollectionStores.register("grpc_geofresh_client",
        new GrpcCollectionStore(h, p))
      val q = queryVector(s, dir, 27)
      connectorRead(s, "grpc_geofresh_client", "embeddings")
        .option("filter", "loc:geo_box:10,-40,-10,20")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // binary-wire geo maintenance parity: same oracle as the REST twin
      """WITH pts AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v,
        |         (vec_id % 120) - 60 + 0.25 AS la,
        |         ((vec_id * 7) % 320) - 160 + 0.25 AS lo
        |  FROM embeddings WHERE vec_id NOT IN (7, 64)
        |  UNION ALL
        |  SELECT '7', CAST(e.embedding AS DOUBLE[]), 0.25, -10.25
        |  FROM embeddings e WHERE e.vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[]), 5.25, -15.25
        |  FROM embeddings WHERE vec_id < 5),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id = 27),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s
        |  FROM pts, q
        |  WHERE la >= -10 AND la <= 10 AND lo >= -40 AND lo <= 20
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // FLOAT payload index at the store seam: range bounds over a double
    // payload value prune the type-tagged partitions and the pushed
    // COUNT is footer-only — the float leg of qdrant's numeric index
    // kinds (the int leg is dsv2_parquet_indexed_count)
    Gate("dsv2_parquet_float_count", (s, dir) => {
      CollectionStores.register("pq_float_store",
        Fixtures.parquetFloatStore(s, dir))
      connectorRead(s, "pq_float_store", "embeddings")
        .option("filter", "score:gte:3.25;score:lt:7.5")
        .load()
        .agg(count(lit(1)).as("n"))
    },
      // the derived double re-expressed in DuckDB arithmetic (exact: /16
      // is a binary fraction)
      """SELECT count(*) AS n FROM embeddings
        |WHERE label + (vec_id % 10) / 16.0 >= 3.25
        |  AND label + (vec_id % 10) / 16.0 < 7.5""".stripMargin),

    // FULL-TEXT payload index at the store seam: the match_text filter's
    // candidates are the intersection of its tokens' posting lists
    // (read from only those tokens' hash buckets), fetched from the
    // primaries with id-statistics pruning — qdrant's `text` index kind
    // over the lakehouse backend; the token bag rule makes the
    // intersection EXACT for match_text, so the plain WHERE oracles it
    Gate("dsv2_parquet_text_search", (s, dir) => {
      CollectionStores.register("pq_text_store",
        Fixtures.parquetTextStore(s, dir))
      val q = queryVector(s, dir, 17)
      connectorRead(s, "pq_text_store", "embeddings")
        .option("filter", "body:match_text:w3 tag1")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // token membership re-expressed as the derivation's plain WHERE
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 17),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  WHERE e.label = 3 AND e.vec_id % 4 = 1
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // datetime payload index at the store seam: the filter's dt-range
    // bounds prune the index's value partitions by PARSED instant and
    // the pushed COUNT answers from footers alone — qdrant's `datetime`
    // index kind over the lakehouse backend (the engine-side epoch-day
    // index, datetime_index_range, has the same dichotomy)
    Gate("dsv2_parquet_datetime_count", (s, dir) => {
      CollectionStores.register("pq_dt_store",
        Fixtures.parquetDtStore(s, dir))
      connectorRead(s, "pq_dt_store", "embeddings")
        .option("filter", "ts:dt_gte:2024-02-01;ts:dt_lt:2024-04-01")
        .load()
        .agg(count(lit(1)).as("n"))
    },
      // the derived date re-expressed in DuckDB date arithmetic
      """SELECT count(*) AS n FROM embeddings
        |WHERE DATE '2024-01-01' + CAST(label * 13 AS INTEGER) >= DATE '2024-02-01'
        |  AND DATE '2024-01-01' + CAST(label * 13 AS INTEGER) < DATE '2024-04-01'""".stripMargin),

    // the STREAMING read path over the LAKEHOUSE backend: the parquet
    // store's _log sidecar replays through the connector's micro-batch
    // CDC source exactly like the in-memory log (same oracle as
    // dsv2_stream_read) — segment files position themselves by name, so
    // the bounded run opens only the segments it replays
    Gate("dsv2_parquet_stream_read", (s, dir) => {
      CollectionStores.register("pql_stream",
        Fixtures.parquetLogStore(s, dir))
      val sink = s"pql_out_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      drain(s.readStream.format("graft.sources.CollectionDataSource")
        .option("store", "pql_stream").option("collection", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
        .writeStream.format("memory").queryName(sink), tempDir("graft-pql-gate"))
      s.table(sink)
    },
      // lakehouse backend swap is invisible above the seam: the parquet
      // log's replay/compaction/pipeline share the in-memory forms' oracles
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // LOG COMPACTION on the lakehouse backend: COW deletes append
    // tombstone segments, compaction truncates the ingest prefix
    // (the PRIMARY files are the checkpoint — no separate snapshot) and
    // the retained tail replays at its ORIGINAL global positions — same
    // oracle as the in-memory dsv2_cdc_compacted
    Gate("dsv2_parquet_cdc_compacted", (s, dir) => {
      CollectionStores.register("pql_cdcc",
        Fixtures.freshParquetLogStore(s, dir))
      val ingested = CollectionStores.get("pql_cdcc").logSize("embeddings")
      CollectionStores.update("pql_cdcc") {
        case pq: ParquetCollectionStore =>
          pq.removed("embeddings", Set("3", "13", "23"))
            .compacted("embeddings", ingested)
        case other => other
      }
      connectorRead(s, "pql_cdcc", "embeddings")
        .option("cdc", "true").option("partitions", "4").load()
        .select(col("_op"), col("_seq"), col("id"))
    },
      """WITH n AS (SELECT COUNT(*) AS c FROM embeddings)
        |SELECT 'delete' AS _op,
        |       CAST(n.c + row_number() OVER (ORDER BY d.id) - 1 AS BIGINT) AS _seq,
        |       d.id
        |FROM (SELECT CAST(vec_id AS VARCHAR) AS id FROM embeddings
        |      WHERE vec_id IN (3, 13, 23)) d, n
        |ORDER BY _seq""".stripMargin),

    // collection-to-collection ETL with BOTH ends on the lakehouse
    // backend: stream the parquet log out, transform, stream INTO an
    // empty parquet collection — each epoch commits as one COW batch +
    // log segment, so the sink is itself CDC-replayable. Same oracle as
    // dsv2_stream_pipeline
    Gate("dsv2_parquet_stream_pipeline", (s, dir) => {
      CollectionStores.register("pql_etl_src",
        Fixtures.parquetLogStore(s, dir))
      val dstDir = tempDir("graft-pq-etl-dst")
      ParquetCollectionStore.initEmpty(dstDir)
      CollectionStores.register("pql_etl_dst", new ParquetCollectionStore(
        dstDir, "embeddings", Collections.homogeneousDescriptor))
      drain(s.readStream.format("graft.sources.CollectionDataSource")
        .option("store", "pql_etl_src").option("collection", "embeddings")
        .option("partitions", "4").load()
        .filter(json_get_int(col("payload"), "label") % 2 === 0)
        .select(col("id"),
          concat(lit("""{"etl":1,"orig":"""), col("payload"), lit("}")).as("payload"),
          col("vector"))
        .writeStream.format("graft.sources.CollectionDataSource")
        .option("store", "pql_etl_dst").option("collection", "embeddings"),
        tempDir("graft-pql-etl-ckpt"))
      connectorRead(s, "pql_etl_dst", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT id, '{"etl":1,"orig":' || payload || '}' AS payload FROM (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         to_json({'label': label}) AS payload,
        |         label
        |  FROM embeddings)
        |WHERE label % 2 = 0 ORDER BY id""".stripMargin),

    // the THIRD CollectionStore implementation — the WIRE protocol: an
    // HTTP/JSON client (RestCollectionStore) dialing an in-process server
    // fronting the same collection, the reference's defining deployment
    // shape (its client is dialed from a URL, the reference's src/
    // table.rs:48). Same oracle as dsv2_scan: the network hop must be
    // invisible above the CollectionStore seam
    Gate("dsv2_rest_store", (s, dir) => {
      CollectionStores.register("rest_store",
        new RestCollectionStore(Fixtures.restBackedUrl(s, dir)))
      connectorRead(s, "rest_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // AUTHENTICATED wire serving: the server refuses requests without
    // the shared-secret api-key header (the reference client's auth
    // scheme, test_utils.rs:119-128); a KEYED client reads the same
    // collection — same oracle as dsv2_rest_store, auth must be
    // invisible to an authorized caller. The 401 reject path (both
    // transports) is pinned in the wire specs.
    Gate("dsv2_rest_auth", (s, dir) => {
      CollectionStores.register("rest_auth_store",
        new RestCollectionStore(Fixtures.restAuthUrl(s, dir),
          apiKey = Some(Fixtures.WireApiKey)))
      connectorRead(s, "rest_auth_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      // authorized read through the keyed server: auth is invisible above
      // the seam, so the oracle is dsv2_rest_store's
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // pushed top-k THROUGH the wire: the scan ships the scored query to
    // the remote service (`points/query`), scored points come back — the
    // reference's architecture end-to-end, network included. Same oracle
    // as dsv2_topk_pushdown
    Gate("dsv2_rest_search", (s, dir) => {
      CollectionStores.register("rest_search_store",
        new RestCollectionStore(Fixtures.restBackedUrl(s, dir)))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "rest_search_store", "embeddings")
        .search("vector", q, "cosine", k = 12)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  ORDER BY s DESC, id ASC LIMIT 12)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // FILTERED search OVER THE WIRE: query + `must` filter ship together
    // (`points/query` with a filter object), the SERVICE filters before
    // ranking, and only the k matching scored points cross the network.
    // Same oracle as dsv2_filtered_search — the network hop must be
    // invisible
    Gate("dsv2_rest_filtered_search", (s, dir) => {
      CollectionStores.register("rest_fs_store",
        new RestCollectionStore(Fixtures.restBackedUrl(s, dir)))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "rest_fs_store", "embeddings")
        .search("vector", q, "cosine", k = 12)
        .option("filter", "label:gte:2")
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  WHERE e.label >= 2
        |  ORDER BY s DESC, id ASC LIMIT 12)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // SQL DDL against a REMOTE backend: CREATE TABLE ships the vectors
    // config over the wire (the service owns the atomic existence
    // check), INSERT commits via the wire upsert, the read-back
    // round-trips — the full SQL table lifecycle against a remote node
    Gate("dsv2_rest_ddl", (s, dir) => {
      CollectionStores.register("rest_ddl_backend",
        InMemoryCollectionStore.single("seed",
          Collections.homogeneousDescriptor.copy(name = "seed"),
          IndexedSeq.empty))
      CollectionStores.register("rest_ddl_store",
        new RestCollectionStore(Fixtures.restDdlUrl))
      s.conf.set("spark.sql.catalog.rddl_cat", "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.rddl_cat.store", "rest_ddl_store")
      s.sql("DROP TABLE IF EXISTS rddl_cat.remote_docs")
      s.sql("CREATE TABLE rddl_cat.remote_docs " +
        "(id STRING, payload STRING, vector ARRAY<FLOAT>)")
      homRows(s, dir)
        .createOrReplaceTempView("__rddl_src")
      s.sql("INSERT INTO rddl_cat.remote_docs " +
        "SELECT id, payload, vector FROM __rddl_src WHERE CAST(id AS BIGINT) % 5 = 0")
      s.sql("SELECT id, payload FROM rddl_cat.remote_docs ORDER BY id")
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings WHERE vec_id % 5 = 0 ORDER BY id""".stripMargin),

    // collection ALIASES (the backend's zero-downtime swap API): readers
    // address the alias `live`; the reindexed generation goes live with
    // ONE atomic alias update — the gate reads through the alias AFTER
    // the swap and must see only the new generation (both generations
    // pre-built offline; the gate measures the flip + the aliased read)
    Gate("dsv2_alias_swap", (s, dir) => {
      import graft.sources.AliasedCollectionStore._
      val store = Fixtures.aliasStoreOf(s, dir)
      updateAliases(store, Seq(CreateAlias("live", "embeddings")))
      updateAliases(store, Seq(
        DeleteAlias("live"), CreateAlias("live", "embeddings_v2")))
      connectorRead(s, store, "live")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       '{"v":2,"orig":' || to_json({'label': label}) || '}' AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // the FULL heterogeneous shape from the LAKEHOUSE backend: all three
    // vector kinds (dense named fields, the ragged multi field, the
    // two-column sparse pair) plus disjoint-subset NULLs decode from the
    // cold parquet layout — the store now carries the complete
    // collection data model, not just dense. Same oracle as dsv2_hetero:
    // the backend swap must be invisible
    Gate("dsv2_parquet_hetero", (s, dir) => {
      CollectionStores.register("pq_hetero_store",
        Fixtures.parquetHeteroStore(s, dir))
      connectorRead(s, "pq_hetero_store", "hetero")
        .option("partitions", "4").load()
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
      // lakehouse backend swap invisible for the FULL collection shape
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

    // NAMED-FIELD pushed search over the LAKEHOUSE backend: the top-k
    // query ships to the parquet store (no IVF sidecar on this field, so
    // the store's streaming heap serves it), the fetch narrows to the ONE
    // named dense field, rows lacking it never score — the reference's
    // named-collection search leg with the cold store doing the ranking.
    // Same oracle as dsv2_hetero_search: the backend swap is invisible
    Gate("dsv2_parquet_named_search", (s, dir) => {
      CollectionStores.register("pq_named_store",
        Fixtures.parquetHeteroSearchStore(s, dir))
      val q = queryVector(s, dir, 0)
      connectorRead(s, "pq_named_store", "hetero")
        .search("text_embedding", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // pushed named-field search served by the parquet store's streaming
      // heap — same ranking contract as the in-memory form
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 IN (0, 1)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // SNAPSHOT + RESTORE + ALIAS over the LAKEHOUSE backend: snapshot a
    // parquet-backed collection (connector read -> portable parquet +
    // manifest), restore it as a NEW parquet store (points re-seal into
    // the ranged layout), then read it through an ALIAS on that store —
    // the full operational surface (backup, restore, zero-downtime
    // alias) composed over the backend you'd run at 100 TB. Contents
    // must survive both hops bit-for-bit (q6-quantized vector proof)
    Gate("dsv2_parquet_snapshot", (s, dir) => {
      import graft.sources.AliasedCollectionStore._
      CollectionStores.register("pq_snap_src",
        Fixtures.parquetBackedStore(s, dir))
      val path = tempDir("graft-pq-snap")
      graft.collections.Snapshot.create(s, "pq_snap_src", "embeddings", path)
      graft.collections.Snapshot.restoreParquet(s, path, "pq_snap_restore",
        "embeddings_restored", tempDir("graft-pq-snap-dst"))
      updateAliases("pq_snap_restore",
        Seq(CreateAlias("live", "embeddings_restored")))
      connectorRead(s, "pq_snap_restore", "live")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"), vq6(col("vector")).as("vector_q6"))
    },
      // snapshot -> parquet restore -> alias read must reproduce the
      // collection exactly, vectors included (q6 form)
      s"""SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload,
        |       ${duckVq6("embedding")} AS vector_q6
        |FROM embeddings ORDER BY id""".stripMargin),

    // the SNAPSHOT VERB over the wire: the client asks the SERVICE to
    // export the collection (the backend's create-snapshot API — the
    // artifact lands service-side as a portable parquet dataset +
    // manifest, never crossing the wire), then a local restore of that
    // artifact must reproduce the collection exactly, vectors included.
    // Same oracle as dsv2_parquet_snapshot
    Gate("dsv2_wire_snapshot", (s, dir) => {
      val client = new RestCollectionStore(Fixtures.restSnapshotUrl(s, dir))
      val path = tempDir("graft-wire-snap")
      client.snapshot("embeddings", path)
      graft.collections.Snapshot.restoreParquet(s, path, "wire_snap_restore",
        "embeddings_restored", tempDir("graft-wire-snap-dst"))
      connectorRead(s, "wire_snap_restore", "embeddings_restored")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"), vq6(col("vector")).as("vector_q6"))
    },
      // the snapshot VERB over the wire (service-side export) + local
      // restore must reproduce the collection exactly too
      s"""SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload,
        |       ${duckVq6("embedding")} AS vector_q6
        |FROM embeddings ORDER BY id""".stripMargin),

    // SNAPSHOT CARRIES THE INDEX: the storage-level snapshot archives
    // the whole store directory — per-segment graphs, watermarks,
    // tombstones, changelog — so the restored collection's FIRST search
    // is GRAPH-served over the churned state with an empty overlay tail
    // (no rebuild, no brute scan; CollectionsSpec counter-asserts the
    // serve path). The backend's storage-level snapshot semantics
    // (the reference's tests/bin/config.yaml:24-37,198). Source = the
    // churned hnsw_fresh fixture (inserts/update/delete absorbed
    // online); the restored search must rank exactly where the brute
    // oracle over the FINAL state does.
    Gate("dsv2_snapshot_indexed", (s, dir) => {
      CollectionStores.register("snap_idx_src",
        Fixtures.parquetHnswFreshStore(s, dir))
      val path = tempDir("graft-snap-idx")
      graft.collections.Snapshot.createStorage("snap_idx_src",
        "embeddings", path)
      graft.collections.Snapshot.restoreStorage(s, path, "snap_idx_rst",
        "embeddings", tempDir("graft-snap-idx-dst"),
        hnswEf = 2048)
      val q = queryVector(s, dir, 23)
      connectorRead(s, "snap_idx_rst", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // storage-level snapshot of the churned hnsw_fresh store: the
      // restored, index-served search must rank exactly where brute force
      // over the FINAL churned state does (same base as hnsw_fresh, the
      // snapshot/restore hop must be invisible)
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 23),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // STORAGE snapshot of a SHARDED topology: the churned 2-member
    // store archives member-by-member (the backend snapshots per shard
    // precisely so a cluster restores member by member —
    // the reference's tests/bin/config.yaml:24-37,198), the restore
    // re-wraps the topology under fresh dirs, and the FIRST search is
    // graph-served on every restored member over the churned state —
    // the brute oracle over the FINAL state must match exactly.
    // SnapshotTopologySpec counter-asserts primaries-closed serves.
    Gate("dsv2_sharded_snapshot", (s, dir) => {
      CollectionStores.register("sh_snap_src",
        Fixtures.shardedSnapStore(s, dir))
      val path = tempDir("graft-snap-sh")
      graft.collections.Snapshot.createStorage("sh_snap_src",
        "embeddings", path)
      graft.collections.Snapshot.restoreStorage(s, path, "sh_snap_rst",
        "embeddings", tempDir("graft-snap-sh-dst"),
        hnswEf = 2048)
      val q = queryVector(s, dir, 29)
      connectorRead(s, "sh_snap_rst", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // sharded storage snapshot: the member-by-member archive/restore
      // hop must be invisible — same churned-state brute oracle family
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 29),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // CLUSTER snapshot of a SHARDED-OF-WIRE topology: the per-node
    // storage-snapshot and recover verbs fan to every member service
    // (archives stay node-side — nothing but control-plane verbs cross
    // the wire), each service swaps to its recovered store, and the
    // wrapper keeps serving through the same clients — the backend's
    // member-by-member cluster recovery; this search must be
    // graph-served on every recovered member over the churned state
    Gate("dsv2_sharded_wire_snapshot", (s, dir) => {
      CollectionStores.register("sh_wiresnap_store",
        Fixtures.shardedWireSnapStore(s, dir))
      val paths = (0 until 2).map(_ =>
        tempDir("graft-shwire-arch"))
      graft.collections.Snapshot.createStorageCluster("sh_wiresnap_store",
        "embeddings", paths)
      val dirs = (0 until 2).map(_ =>
        tempDir("graft-shwire-dst"))
      graft.collections.Snapshot.recoverStorageCluster("sh_wiresnap_store",
        "embeddings", paths, dirs, hnswEf = 2048)
      val q = queryVector(s, dir, 33)
      connectorRead(s, "sh_wiresnap_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // sharded-of-wire cluster snapshot/recover: per-node archives +
      // service swaps must be invisible — churned-state brute oracle
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 33),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // REPLICATED-of-wire cluster snapshot: the HA pair's ONE node-side
    // archive (written by replica 0's service) reseeds EVERY member
    // service at recover — the backend's snapshot-transfer reseed over
    // the wire; the wrapper serves the churned state unchanged after
    // both swaps. Same churned-state brute oracle family.
    Gate("dsv2_replicated_wire_snapshot", (s, dir) => {
      CollectionStores.register("rep_wiresnap_store",
        Fixtures.replicatedWireSnapStore(s, dir))
      val path = tempDir("graft-repwire-arch")
      graft.collections.Snapshot.createStorageCluster("rep_wiresnap_store",
        "embeddings", Seq(path))
      require(graft.collections.Snapshot.verifyStorageCluster(
        "rep_wiresnap_store", "embeddings", Seq(path)).isEmpty,
        "the fresh HA archive must drill clean before the reseed")
      val dirs = (0 until 2).map(_ =>
        tempDir("graft-repwire-dst"))
      graft.collections.Snapshot.recoverStorageCluster("rep_wiresnap_store",
        "embeddings", Seq(path), dirs, hnswEf = 2048)
      val q = queryVector(s, dir, 33)
      connectorRead(s, "rep_wiresnap_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // replicated-of-wire reseed: the one-archive recover is invisible —
      // same churned-state brute oracle as the sharded wire snapshot
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 33),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id NOT IN (7, 13)
        |  UNION ALL
        |  SELECT '7', CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id = 42
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // ARCHIVE VERIFICATION (the DR drill): a freshly created
    // member-by-member archive of the churned sharded store must verify
    // CLEAN without being restored — metadata-only checks (manifest,
    // primaries present, no parked markers, watermarks parse); the
    // corruption arms are pinned in SnapshotTopologySpec
    Gate("dsv2_snapshot_verify", (s, dir) => {
      import s.implicits._
      CollectionStores.register("sh_snapv_src",
        Fixtures.shardedSnapStore(s, dir))
      val path = tempDir("graft-snapv")
      graft.collections.Snapshot.createStorage("sh_snapv_src",
        "embeddings", path)
      Seq(graft.collections.Snapshot.verifyStorage(path).length.toLong)
        .toDF("n_findings")
    },
      // the DR drill on a fresh archive finds nothing
      "SELECT CAST(0 AS BIGINT) AS n_findings"),

    // the DR drill OVER THE WIRE: fresh node-side archives of the mixed
    // (REST + gRPC) cluster drill CLEAN through verifyStorageCluster —
    // each service verifies ITS archive, only findings cross back; the
    // corruption arms (parked marker through the wire, member prefixes)
    // are pinned in SnapshotTopologySpec
    Gate("dsv2_cluster_snapshot_verify", (s, dir) => {
      import s.implicits._
      CollectionStores.register("sh_wiresnapv_store",
        Fixtures.shardedWireSnapStore(s, dir))
      val paths = (0 until 2).map(_ =>
        tempDir("graft-shwire-varch"))
      graft.collections.Snapshot.createStorageCluster("sh_wiresnapv_store",
        "embeddings", paths)
      Seq(graft.collections.Snapshot.verifyStorageCluster(
        "sh_wiresnapv_store", "embeddings", paths).length.toLong)
        .toDF("n_findings")
    },
      // the wire drill on fresh node-side cluster archives finds nothing
      "SELECT CAST(0 AS BIGINT) AS n_findings"),

    // FACET over the wire (the backend's points/facet API): the remote
    // service owns the payload pass, only the (value, count) hit list
    // crosses back — the admin/faceted-navigation call every catalog UI
    // issues, servable from a payload index without touching the corpus
    Gate("dsv2_rest_facet", (s, dir) => {
      import s.implicits._
      val client = new RestCollectionStore(Fixtures.restBackedUrl(s, dir))
      client.facetCounts("embeddings", "label", limit = 5)
        .toDF("value", "n")
    },
      """SELECT CAST(label AS VARCHAR) AS value, count(*) AS n
        |FROM embeddings
        |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 5""".stripMargin),

    // the facet API over the binary wire — same oracle, different frames
    Gate("dsv2_grpc_facet", (s, dir) => {
      import s.implicits._
      val (h, p) = Fixtures.grpcBackedAddr(s, dir)
      val client = new GrpcCollectionStore(h, p)
      client.facetCounts("embeddings", "label", limit = 5)
        .toDF("value", "n")
    },
      """SELECT CAST(label AS VARCHAR) AS value, count(*) AS n
        |FROM embeddings
        |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 5""".stripMargin),

    // WRITES over the wire: the connector's batch write commits through
    // the REST client (PUT points — Qdrant's upsert surface), the remote
    // service owns the RMW, and the read-back round-trips through the
    // same wire. Same oracle as dsv2_write: remote ingest must be
    // indistinguishable from local ingest above the seam
    // PARTIAL payload update (the backend's set_payload): merge a patch
    // into selected points' payloads — unmentioned fields survive, other
    // points untouched, rewritten points logged as CDC upserts; the
    // read-back projects the patched VALUES through the json surface
    Gate("dsv2_set_payload", (s, dir) => {
      CollectionStores.register("patch_store", InMemoryCollectionStore.fromRows(
        Collections.homogeneous(s, dir), "embeddings",
        Collections.homogeneousDescriptor))
      CollectionStores.update("patch_store") {
        case mem: InMemoryCollectionStore => mem.payloadPatched("embeddings",
          Set("0", "10", "20", "30", "40"),
          """{"label":99,"reviewed":true}""")
        case other => other
      }
      connectorRead(s, "patch_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"),
          json_get_int(col("payload"), "label").as("label"),
          json_get_bool(col("payload"), "reviewed").as("reviewed"))
    },
      // both set_payload forms (in-process and over-the-wire) share one
      // oracle: patched ids carry the new values, unmentioned fields and
      // unselected points survive
      SetPayloadOracle),

    // PARTIAL vector mutations: update_vectors replaces only the carried
    // fields (payload and other fields survive — unlike upsert);
    // delete_vectors drops named fields, which decode as NULL on read
    Gate("dsv2_update_vectors", (s, dir) => {
      CollectionStores.register("vup_store", InMemoryCollectionStore.fromRows(
        Collections.homogeneous(s, dir), "embeddings",
        Collections.homogeneousDescriptor))
      val ups = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id").isin(0, 10, 20))
        .select(col("vec_id").cast(StringType).as("id"),
          reverse(col("embedding")).as("v"))
        .collect().map(r => Point(r.getString(0), None,
          dense = Map("vector" -> r.getSeq[Float](1).toArray))).toSeq
      CollectionStores.update("vup_store") {
        case mem: InMemoryCollectionStore =>
          mem.vectorsUpdated("embeddings", ups)
            .vectorsDeleted("embeddings", Set("30", "40"), Set("vector"))
        case other => other
      }
      connectorRead(s, "vup_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"), vq6(col("vector")).as("vector_q6"))
    },
      s"""SELECT CAST(vec_id AS VARCHAR) AS id,
         |       to_json({'label': label}) AS payload,
         |       CASE WHEN vec_id IN (30, 40) THEN NULL
         |            WHEN vec_id IN (0, 10, 20)
         |              THEN ${duckVq6("list_reverse(embedding)")}
         |            ELSE ${duckVq6("embedding")} END AS vector_q6
         |FROM embeddings ORDER BY id""".stripMargin),

    // the other two payload mutations: delete_payload drops named fields
    // (point keeps an — possibly empty — payload object), clear_payload
    // removes the payload entirely (reads back NULL); same CDC contract
    Gate("dsv2_delete_payload", (s, dir) => {
      CollectionStores.register("pdel_store", InMemoryCollectionStore.fromRows(
        Collections.homogeneous(s, dir), "embeddings",
        Collections.homogeneousDescriptor))
      CollectionStores.update("pdel_store") {
        case mem: InMemoryCollectionStore =>
          mem.payloadKeysDeleted("embeddings", Set("0", "10", "20"), Set("label"))
            .payloadCleared("embeddings", Set("30", "40"))
        case other => other
      }
      connectorRead(s, "pdel_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"),
          json_get_int(col("payload"), "label").as("label"),
          col("payload").isNull.as("cleared"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       CAST(CASE WHEN vec_id IN (0, 10, 20, 30, 40) THEN NULL
        |                 ELSE label END AS INTEGER) AS label,
        |       vec_id IN (30, 40) AS cleared
        |FROM embeddings ORDER BY id""".stripMargin),

    // the same set_payload shipped OVER THE WIRE: only the patch and the
    // id list cross; the service owns the read-modify-write
    Gate("dsv2_rest_set_payload", (s, dir) => {
      CollectionStores.register("rest_write_backend",
        InMemoryCollectionStore.fromRows(
          Collections.homogeneous(s, dir), "embeddings",
          Collections.homogeneousDescriptor))
      val client = new RestCollectionStore(Fixtures.restWriteUrl)
      client.setPayload("embeddings", Set("0", "10", "20", "30", "40"),
        """{"label":99,"reviewed":true}""")
      CollectionStores.register("rest_patch_store", client)
      connectorRead(s, "rest_patch_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"),
          json_get_int(col("payload"), "label").as("label"),
          json_get_bool(col("payload"), "reviewed").as("reviewed"))
    },
      SetPayloadOracle),

    Gate("dsv2_rest_write", (s, dir) => {
      CollectionStores.register("rest_write_backend",
        InMemoryCollectionStore.single(
          "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
      CollectionStores.register("rest_write_store",
        new RestCollectionStore(Fixtures.restWriteUrl))
      homRows(s, dir)
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "rest_write_store").option("collection", "embeddings")
        .mode("append").save()
      connectorRead(s, "rest_write_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      // wire-protocol swap is equally invisible: same oracles again
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // the PROTOBUF transport twin of dsv2_rest_store: the same connector
    // scan over a GrpcCollectionStore client — hand-sealed protobuf
    // messages, length-delimited frames, a plain socket (the transport
    // the reference's qdrant-client speaks, table.rs:133; gRPC's message
    // framing without the HTTP/2 envelope). Same oracle: the transport
    // swap must be invisible above the CollectionStore seam
    Gate("dsv2_grpc_store", (s, dir) => {
      val (h, p) = Fixtures.grpcBackedAddr(s, dir)
      CollectionStores.register("grpc_store", new GrpcCollectionStore(h, p))
      connectorRead(s, "grpc_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      // the protobuf transport must reproduce the JSON transport's results
      // byte-for-byte: same oracles, different wire
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // pushed top-k through the BINARY wire: the scored query ships as a
    // protobuf SearchPoints frame, scored points come back — same oracle
    // as the JSON transport and the local store (dsv2_rest_search)
    Gate("dsv2_grpc_search", (s, dir) => {
      val (h, p) = Fixtures.grpcBackedAddr(s, dir)
      CollectionStores.register("grpc_search_store",
        new GrpcCollectionStore(h, p))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "grpc_search_store", "embeddings")
        .search("vector", q, "cosine", k = 12)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  ORDER BY s DESC, id ASC LIMIT 12)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // the FULL STACK in one line: connector scan -> protobuf wire ->
    // service -> PARQUET store serving from its IVF sidecar. The pushed
    // top-k crosses the wire as a protobuf frame, the lakehouse backend
    // answers probe-pruned (primary files closed), k scored rows come
    // back — a remote node over cold storage, which is exactly the
    // production deployment shape. Same oracle as the local parquet
    // serve: two seams (transport, storage) and zero result drift
    Gate("dsv2_grpc_lakehouse_search", (s, dir) => {
      CollectionStores.register("grpc_lake_backend",
        Fixtures.parquetIvfStore(s, dir))
      val srv = Fixtures.grpcLakeServer
      CollectionStores.register("grpc_lake_store",
        new GrpcCollectionStore(srv.host, srv.port))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "grpc_lake_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the same serve behind the protobuf transport: identical mirrors
      DuckMirror.ivfSql(
      queryVecId = 7, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L, rawOrder = true)),

    // NAMED-FIELD IVF serving: the sidecar indexes text_embedding over
    // the rows that HAVE it (vec_id % 3 in {0,1}), a pushed top-k on
    // the named field probes centroids and reads only the probed
    // clusters — the subset-fit mirror reproduces every stage, so the
    // named-collection path gets the same deterministic oracle as the
    // homogeneous one
    Gate("dsv2_parquet_named_ivf", (s, dir) => {
      CollectionStores.register("pq_hivf_store",
        Fixtures.parquetHeteroIvfStore(s, dir))
      val q = queryVector(s, dir, 6)
      connectorRead(s, "pq_hivf_store", "hetero")
        .search("text_embedding", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the SUBSET-fit mirror: the corpus is the rows carrying the named
      // field (hetero populates text_embedding on vec_id % 3 in {0, 1})
      DuckMirror.ivfSql(
      queryVecId = 6, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L, rawOrder = true,
      corpusSql =
        """  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings WHERE vec_id % 3 IN (0, 1)""".stripMargin)),

    // transport symmetry: the SAME lakehouse serve behind the JSON wire
    // (rest server fronting the parquet store) — three backends, two
    // transports, one oracle
    Gate("dsv2_rest_lakehouse_search", (s, dir) => {
      CollectionStores.register("rest_lake_backend",
        Fixtures.parquetIvfStore(s, dir))
      CollectionStores.register("rest_lake_store",
        new RestCollectionStore(Fixtures.restLakeUrl))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "rest_lake_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      DuckMirror.ivfSql(
      queryVecId = 7, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L, rawOrder = true)),

    // the same stack with the payload index as the access path: the
    // filter ships in the protobuf frame, the service's parquet store
    // serves from the label index's value partitions — qdrant's
    // pre-filter arm behind two seams, same oracle as the local form
    Gate("dsv2_grpc_lakehouse_prefilter", (s, dir) => {
      CollectionStores.register("grpc_lake_backend",
        Fixtures.parquetIvfStore(s, dir))
      val srv = Fixtures.grpcLakeServer
      CollectionStores.register("grpc_lake_store2",
        new GrpcCollectionStore(srv.host, srv.port))
      val q = queryVector(s, dir, 11)
      connectorRead(s, "grpc_lake_store2", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 11),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q WHERE e.label = 3
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // remote LAKEHOUSE writes: the connector's batches cross the
    // protobuf wire and the SERVICE applies each as a COW batch + log
    // segment on its parquet store — a writable cold-storage node. The
    // read-back pages through the same client; fresh empty dir per
    // invocation so re-runs replay the identical ingest
    Gate("dsv2_grpc_lakehouse_write", (s, dir) => {
      val pqDir = tempDir("graft-pq-grpcw")
      ParquetCollectionStore.initEmpty(pqDir)
      CollectionStores.register("grpc_lakew_backend",
        new ParquetCollectionStore(pqDir, "embeddings",
          Collections.homogeneousDescriptor))
      val srv = Fixtures.grpcLakeWriteServer
      CollectionStores.register("grpc_lakew_store",
        new GrpcCollectionStore(srv.host, srv.port))
      homRows(s, dir)
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "grpc_lakew_store").option("collection", "embeddings")
        .mode("append").save()
      connectorRead(s, "grpc_lakew_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // the connector's WRITE path over the binary wire: upsert batches
    // ship as protobuf frames, the service owns commit atomicity, the
    // read-back proves the round trip — the RemoteCollectionClient seam
    // makes the two transports interchangeable in the write dispatch
    Gate("dsv2_grpc_write", (s, dir) => {
      CollectionStores.register("grpc_write_backend",
        InMemoryCollectionStore.single(
          "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
      val (h, p) = Fixtures.grpcWriteAddr
      CollectionStores.register("grpc_write_store",
        new GrpcCollectionStore(h, p))
      homRows(s, dir)
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "grpc_write_store").option("collection", "embeddings")
        .mode("append").save()
      connectorRead(s, "grpc_write_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // batched queries over the BINARY wire: 3 protobuf spec frames, ONE
    // round trip, per-spec top-k — same oracle as the JSON batch
    Gate("dsv2_grpc_batch", (s, dir) => {
      import s.implicits._
      val (h, p) = Fixtures.grpcBackedAddr(s, dir)
      val client = new GrpcCollectionStore(h, p)
      val qs = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id"), dvec(col("embedding")))
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0).toString, r.getSeq[Double](1).toArray))
      val specs = qs.map { case (_, v) => SearchSpec("vector", v, "cosine", 5) }
      val res = client.searchPointsBatch("embeddings", specs.toIndexedSeq,
        withPayload = false, Seq.empty)
      qs.zip(res).flatMap { case ((qid, _), hits) =>
        hits.map { case (p2, score) => (qid, p2.id, score) }
      }.toIndexedSeq.toDF("query_id", "id", "score")
        .withColumn("score", round(col("score"), 6))
    },
      // per-spec rank on RAW similarity (the server ranks unrounded, id
      // tiebreak), round only for output — same contract as the single
      // pushed query
      """WITH scored AS (
        |  SELECT CAST(q.vec_id AS VARCHAR) AS query_id,
        |         CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(q.embedding AS DOUBLE[])) AS s
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id IN (0, 1, 2)) q),
        |top AS (
        |  SELECT query_id, id, s,
        |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id ASC) AS rn
        |  FROM scored)
        |SELECT query_id, id, ROUND(s, 6) AS score FROM top WHERE rn <= 5
        |ORDER BY query_id, score DESC, id""".stripMargin),

    // BATCHED queries over the wire (the backend's points/query/batch):
    // 3 query specs, ONE round trip, per-spec top-k ranked server-side
    // with the same raw-score/id contract as the single-query path
    Gate("dsv2_rest_batch", (s, dir) => {
      import s.implicits._
      val client = new RestCollectionStore(Fixtures.restBackedUrl(s, dir))
      val qs = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id"), dvec(col("embedding")))
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0).toString, r.getSeq[Double](1).toArray))
      val specs = qs.map { case (_, v) => SearchSpec("vector", v, "cosine", 5) }
      val res = client.searchPointsBatch("embeddings", specs.toIndexedSeq,
        withPayload = false, Seq.empty)
      qs.zip(res).flatMap { case ((qid, _), hits) =>
        hits.map { case (p, score) => (qid, p.id, score) }
      }.toIndexedSeq.toDF("query_id", "id", "score")
        .withColumn("score", round(col("score"), 6))
    },
      """WITH scored AS (
        |  SELECT CAST(q.vec_id AS VARCHAR) AS query_id,
        |         CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(q.embedding AS DOUBLE[])) AS s
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id IN (0, 1, 2)) q),
        |top AS (
        |  SELECT query_id, id, s,
        |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id ASC) AS rn
        |  FROM scored)
        |SELECT query_id, id, ROUND(s, 6) AS score FROM top WHERE rn <= 5
        |ORDER BY query_id, score DESC, id""".stripMargin),

    Gate("dsv2_topk_pushdown", (s, dir) => {
      CollectionStores.register("topk_store", homMemStore(s, dir))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "topk_store", "embeddings")
        .search("vector", q, "cosine", k = 12)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  ORDER BY s DESC, id ASC LIMIT 12)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // SCATTER-GATHER serving: the same pushed top-k against a 3-shard
    // store (members placed by the rendezvous hash — the backend's
    // sharded-cluster architecture the single-node reference crate
    // delegates to, the reference's src/table.rs:82-86). Each shard
    // answers its local page; the wrapper merge-sorts and cuts to k —
    // provably the unsharded result, so the oracle is dsv2_topk_pushdown's
    Gate("dsv2_sharded_search", (s, dir) => {
      val frame = homRows(s, dir)
      val members = (0 until 3).map { i =>
        InMemoryCollectionStore.fromRows(
          frame.filter(shardOf3(col("id")) === i),
          "embeddings", Collections.homogeneousDescriptor)
      }
      CollectionStores.register("sharded_store",
        new ShardedCollectionStore(members))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "sharded_store", "embeddings")
        .search("vector", q, "cosine", k = 12)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // sharded serving shares the UNSHARDED oracles: distribution must be
      // invisible — the merged shard pages ARE the global top-k, the
      // routed write reads back as the whole corpus
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  ORDER BY s DESC, id ASC LIMIT 12)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // REPLICA SET with a DOWN node: qdrant's replication_factor at the
    // store seam — replica 0 is a wire client whose service does not
    // exist (connection refused on first contact), replica 1 holds the
    // corpus. The read fails over ONCE, the preference sticks, and the
    // page is exact — availability is a wrapper property, invisible to
    // the query. Writes are write-all with dead-marking + resync
    // (spec-pinned in ReplicatedCollectionStoreSpec)
    Gate("dsv2_replicated_search", (s, dir) => {
      CollectionStores.register("replicated_store", {
        val sock = new java.net.ServerSocket(0)
        val deadPort = sock.getLocalPort
        sock.close()
        new ReplicatedCollectionStore(IndexedSeq(
          new GrpcCollectionStore("127.0.0.1", deadPort),
          homMemStore(s, dir)))
      })
      val q = queryVector(s, dir, 23)
      connectorRead(s, "replicated_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // replica set with a down node: failover invisible — the plain
      // exact top-k oracle
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 23)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // READ_CONSISTENCY QUORUM: three alive replicas, one STALE (it is
    // missing the best-ranked point — the divergence a failed resync or
    // an operator mistake leaves behind). Every read gathers all three
    // answers and returns the majority, so the stale minority is
    // OUTVOTED instead of served on its rotation turn — the backend's
    // read_consistency dial. The exact oracle must hold whichever
    // replica the rotation lands on first
    Gate("dsv2_replicated_quorum", (s, dir) => {
      CollectionStores.register("replicated_quorum_store", {
        val frame = homRows(s, dir)
        def full() = InMemoryCollectionStore.fromRows(frame,
          "embeddings", Collections.homogeneousDescriptor)
        val stale = InMemoryCollectionStore.fromRows(
          frame.filter(col("id") =!= "23"),
          "embeddings", Collections.homogeneousDescriptor)
        new ReplicatedCollectionStore(IndexedSeq(stale, full(), full()),
          readConsistency = 3)
      })
      val q = queryVector(s, dir, 23)
      connectorRead(s, "replicated_quorum_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // quorum over one stale replica: the majority answer IS the exact
      // answer — divergence masked by the read_consistency dial
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 23)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // CDC THROUGH A REPLICA SET: the micro-batch source's log_size/
    // log_entries calls bind to ONE replica's journal lineage (in-sync
    // replicas carry identical journals; a resynced one is a rewrite —
    // the epoch guard makes following it an error, spec-pinned). Same
    // oracle as dsv2_stream_read: replication invisible to the replay
    Gate("dsv2_replicated_stream_read", (s, dir) => {
      CollectionStores.register("repl_cdc_store", {
        val frame = homRows(s, dir)
        def replica() = InMemoryCollectionStore.fromRows(frame,
          "embeddings", Collections.homogeneousDescriptor)
        new ReplicatedCollectionStore(IndexedSeq(replica(), replica()))
      })
      val sink = s"repl_cdc_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      drain(s.readStream.format("graft.sources.CollectionDataSource")
        .option("store", "repl_cdc_store").option("collection", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
        .writeStream.format("memory").queryName(sink), tempDir("graft-repl-cdc"))
      s.table(sink)
    },
      // CDC replay bound to one replica's journal: replication invisible
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // PLACEMENT x REPLICATION through the connector: two rendezvous
    // shards, each a replica SET — shard 0's first replica is a wire
    // client to a dead port. The scatter-gather fans to the shards,
    // each set serves read-one with failover, and the exact top-k
    // oracle holds — the full production topology, one bad node,
    // zero visible effect
    Gate("dsv2_sharded_replicated_search", (s, dir) => {
      CollectionStores.register("sh_repl_store", {
        val frame = homRows(s, dir)
        val sock = new java.net.ServerSocket(0)
        val deadPort = sock.getLocalPort
        sock.close()
        val shards = (0 until 2).map { i =>
          val own = frame.filter(shardOf2(col("id")) === i)
          def replica() = InMemoryCollectionStore.fromRows(own,
            "embeddings", Collections.homogeneousDescriptor)
          new ReplicatedCollectionStore(
            if (i == 0) IndexedSeq(
              new GrpcCollectionStore("127.0.0.1", deadPort), replica())
            else IndexedSeq(replica(), replica()))
        }
        new ShardedCollectionStore(shards)
      })
      val q = queryVector(s, dir, 29)
      connectorRead(s, "sh_repl_store", "embeddings")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // placement x replication with a down node: the plain exact oracle
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 29)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // FILTERED HNSW through the SHARDED topology with a WIRE member:
    // each shard owns per-segment graphs + a count-only label index;
    // the filtered search fans out, every member resolves ITS
    // acceptance set and serves graph-side (the wire member entirely
    // service-side — only its ≤ k page crosses), the scatter-gather
    // merges. Same exact filtered oracle as the single-store gate:
    // sharding, transport, index resolution, and walk all invisible
    Gate("dsv2_sharded_hnsw_filtered", (s, dir) => {
      CollectionStores.register("sharded_hnsw_store",
        Fixtures.shardedHnswStore(s, dir))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "sharded_hnsw_store", "embeddings")
        .option("filter", "label:lte:7")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // filtered HNSW sharded over a wire member: same exact filtered
      // oracle — topology and transport invisible
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 7)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 11 AND e.label <= 7
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // CDC streaming over the SHARDED store: the corpus writes through
    // the connector (per-id routing; the wrapper journals each routed
    // batch), then the micro-batch source replays the GLOBAL journal —
    // positions immutable, per-id order shard-local. Same oracle as the
    // unsharded stream read
    Gate("dsv2_sharded_stream_read", (s, dir) => {
      CollectionStores.register("sharded_cdc_store",
        new ShardedCollectionStore((0 until 3).map { _ =>
          InMemoryCollectionStore.single(
            "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty)
        }))
      homRows(s, dir)
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "sharded_cdc_store")
        .option("collection", "embeddings")
        .mode("append").save()
      val sink = s"shcdc_out_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      drain(s.readStream.format("graft.sources.CollectionDataSource")
        .option("store", "sharded_cdc_store").option("collection", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
        .writeStream.format("memory").queryName(sink), tempDir("graft-shcdc"))
      s.table(sink)
    },
      // the journaled global CDC log replays the routed corpus: same
      // oracle as the unsharded stream read
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // exact facets across shards: per-member FULL histograms merge by
    // value, then the global cut — a per-shard top-limit could miss a
    // value placing in every shard but topping none. Same oracle as the
    // wire facet gates
    Gate("dsv2_sharded_facet", (s, dir) => {
      import s.implicits._
      val frame = homRows(s, dir)
      val members = (0 until 3).map { i =>
        InMemoryCollectionStore.fromRows(
          frame.filter(shardOf3(col("id")) === i),
          "embeddings", Collections.homogeneousDescriptor)
      }
      new ShardedCollectionStore(members)
        .facetCounts("embeddings", "label", limit = 5)
        .toDF("value", "n")
    },
      // sharded facets (threshold two-phase merge): same oracle
      """SELECT CAST(label AS VARCHAR) AS value, count(*) AS n
        |FROM embeddings
        |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 5""".stripMargin),

    // the full production TOPOLOGY in one gate: connector -> KEYED
    // binary wire -> scatter-gather -> keyed wires -> 3 rendezvous
    // member nodes. The pushed top-k crosses the outer wire once; the
    // service fans out over authenticated member seams and merges shard
    // pages. Same oracle yet again — neither the transport, the
    // distribution, nor the auth may be observable above the seam
    Gate("dsv2_grpc_sharded_search", (s, dir) => {
      val (h, p) = Fixtures.grpcShardedAddr(s, dir)
      CollectionStores.register("grpc_sharded_store",
        new GrpcCollectionStore(h, p,
          apiKey = Some(Fixtures.ShardedWireKey)))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "grpc_sharded_store", "embeddings")
        .search("vector", q, "cosine", k = 12)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  ORDER BY s DESC, id ASC LIMIT 12)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // the WRITE path against the sharded store: the connector commit
    // routes each point to its rendezvous shard (writes never fan out),
    // the read-back window-maps each scan partition onto shard slices —
    // same oracle as dsv2_write: distribution must be invisible above
    // the store seam
    Gate("dsv2_sharded_write", (s, dir) => {
      CollectionStores.register("sharded_write_store",
        new ShardedCollectionStore((0 until 3).map { _ =>
          InMemoryCollectionStore.single(
            "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty)
        }))
      homRows(s, dir)
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "sharded_write_store")
        .option("collection", "embeddings")
        .mode("append").save()
      connectorRead(s, "sharded_write_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // LIVE RESHARD through the sharded store: the corpus writes through
    // the connector onto 3 rendezvous shards, the cluster GROWS to 4
    // (reshard migrates exactly the displaced ~1/4 of ids as a
    // journaled delete+upsert run — rendezvous moves nothing between
    // surviving shards), and the read-back must be the same table —
    // same oracle as dsv2_sharded_write: growing the cluster is
    // invisible above the store seam
    // live reshard N->N+1 where the ADDED member is a WIRE client — the
    // production grow path: provision an empty collection on the remote
    // node, reshard onto its client; migration upserts route through
    // the RemoteCollectionClient seam in bounded paged requests
    Gate("dsv2_sharded_reshard", (s, dir) => {
      CollectionStores.register("sharded_reshard_node",
        InMemoryCollectionStore.single(
          "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
      val (nh, np) = Fixtures.reshardNodeAddr()
      CollectionStores.register("sharded_reshard_store",
        new ShardedCollectionStore((0 until 3).map { _ =>
          InMemoryCollectionStore.single(
            "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty)
        }))
      homRows(s, dir)
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "sharded_reshard_store")
        .option("collection", "embeddings")
        .mode("append").save()
      CollectionStores.get("sharded_reshard_store")
        .asInstanceOf[ShardedCollectionStore]
        .reshard(Seq(new GrpcCollectionStore(nh, np)))
      connectorRead(s, "sharded_reshard_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      // growing the cluster N->N+1 is invisible above the store seam:
      // same oracle as the sharded write-and-read-back
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // the sharded LIFECYCLE: two label-indexed parquet members, the
    // freshness mutations routed through the wrapper, then ONE
    // optimizeMembers() call rebuilding every member's sidecars at its
    // own log head — the filtered search serves index-pruned again with
    // empty overlay tails. Same oracle as dsv2_parquet_optimized:
    // index, mutate, optimize — results identical at every lifecycle
    // stage, now cluster-wide
    Gate("dsv2_sharded_optimized", (s, dir) => {
      CollectionStores.register("sharded_opt_store",
        Fixtures.shardedOptimizedStore(s, dir))
      val q = queryVector(s, dir, 13)
      connectorRead(s, "sharded_opt_store", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the sharded lifecycle (mutate through the wrapper, optimize every
      // member in one call) serves the same post-mutation filtered top-k
      // as the single-store optimizer gate
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 13),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE label = 3 AND vec_id % 7 <> 0
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // the sharded lifecycle WITH A WIRE MEMBER: one local parquet member
    // and one behind a binary server; mutations route through the
    // wrapper, then ONE optimizeMembers() call reseals the local member
    // and ships the optimize verb to the remote one — the cluster-wide
    // freshness loop closed through the wire, same oracle as the
    // all-local sharded lifecycle gate
    Gate("dsv2_sharded_optimized_wire", (s, dir) => {
      CollectionStores.register("sharded_optw_store",
        Fixtures.shardedOptimizedWireStore(s, dir))
      val q = queryVector(s, dir, 13)
      connectorRead(s, "sharded_optw_store", "embeddings")
        .option("filter", "label:eq:3")
        .search("vector", q, "cosine", k = 10)
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the same cluster-wide lifecycle with a WIRE member in the mix —
      // the remote rebuild must be invisible too
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 13),
        |base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE label = 3 AND vec_id % 7 <> 0
        |  UNION ALL
        |  SELECT CAST(vec_id + 100000 AS VARCHAR),
        |         CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id < 5),
        |top AS (
        |  SELECT id, list_cosine_similarity(v, q.qv) AS s FROM base, q
        |  ORDER BY s DESC, id ASC LIMIT 10)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // the backend's payload filter DSL (`must` match/range conditions)
    // evaluated BY THE STORE: the `filter` read option narrows the scan
    // at the seam — non-matching points never surface (and over the
    // wire, never leave the service)
    Gate("dsv2_payload_filter", (s, dir) => {
      CollectionStores.register("pf_store", homMemStore(s, dir))
      connectorRead(s, "pf_store", "embeddings")
        .option("partitions", "4")
        .option("filter", "label:gte:2;label:lt:5")
        .load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings WHERE label >= 2 AND label < 5 ORDER BY id""".stripMargin),

    // the FULL filter object: must + must_not + min_should conjoin into
    // one store-side predicate (the backend's complete boolean filter
    // vocabulary) — labels {0,1,6,7,8}: lt 9, not 3, and at least one of
    // (lte 1, gte 6)
    Gate("dsv2_filter_boolean", (s, dir) => {
      CollectionStores.register("bf_store", homMemStore(s, dir))
      connectorRead(s, "bf_store", "embeddings")
        .option("partitions", "4")
        .option("filter", "label:lt:9")
        .option("filter.not", "label:eq:3")
        .option("filter.minShould", "1|label:lte:1;label:gte:6")
        .load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings
        |WHERE label < 9 AND NOT (label = 3)
        |  AND (CASE WHEN label <= 1 THEN 1 ELSE 0 END +
        |       CASE WHEN label >= 6 THEN 1 ELSE 0 END) >= 1
        |ORDER BY id""".stripMargin),

    // the same boolean filter SERIALIZED over the wire (must / must_not /
    // min_should objects in the scroll filter), evaluated by the service.
    // Same oracle as dsv2_filter_boolean
    Gate("dsv2_rest_filter_boolean", (s, dir) => {
      CollectionStores.register("rest_bf_store",
        new RestCollectionStore(Fixtures.restBackedUrl(s, dir)))
      connectorRead(s, "rest_bf_store", "embeddings")
        .option("partitions", "4")
        .option("filter", "label:lt:9")
        .option("filter.not", "label:eq:3")
        .option("filter.minShould", "1|label:lte:1;label:gte:6")
        .load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings
        |WHERE label < 9 AND NOT (label = 3)
        |  AND (CASE WHEN label <= 1 THEN 1 ELSE 0 END +
        |       CASE WHEN label >= 6 THEN 1 ELSE 0 END) >= 1
        |ORDER BY id""".stripMargin),

    // IsEmpty through the filter DSL: points whose payload field is
    // MISSING (no payload at all, absent key, null, or []) — the
    // backend's is_empty condition; label-0 points get NULL payloads in
    // this fixture
    Gate("dsv2_filter_empty", (s, dir) => {
      val src = hom(s, dir).select(col("id"),
        when(json_get_int(col("payload"), "label") === 0, lit(null))
          .otherwise(col("payload")).as("payload"),
        col("vector"))
      CollectionStores.register("fe_store", InMemoryCollectionStore.fromRows(
        src, "embeddings", Collections.homogeneousDescriptor))
      connectorRead(s, "fe_store", "embeddings")
        .option("partitions", "4")
        .option("filter", "label:empty:")
        .load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id, CAST(NULL AS VARCHAR) AS payload
        |FROM embeddings WHERE label = 0 ORDER BY id""".stripMargin),

    // MatchAny (keyword IN) through the filter DSL: label in {2, 5, 7},
    // one store-side condition — the backend's match-any form
    Gate("dsv2_filter_match_any", (s, dir) => {
      CollectionStores.register("fa_store", homMemStore(s, dir))
      connectorRead(s, "fa_store", "embeddings")
        .option("partitions", "4")
        .option("filter", "label:match_any:2|5|7")
        .load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings WHERE label IN (2, 5, 7) ORDER BY id""".stripMargin),

    // MatchText through the filter DSL over a PAYLOAD-ONLY collection
    // (documents as points): full-text token match on a payload field,
    // evaluated store-side — the backend's text condition on a
    // text-indexed field
    Gate("dsv2_filter_text", (s, dir) => {
      val dsc = graft.collections.CollectionDescriptor("docs", Seq())
      val src = docs(s, dir).select(
        col("doc_id").cast(StringType).as("id"),
        to_json(struct(col("lang"), col("source"), col("text"))).as("payload"))
      CollectionStores.register("ft_store",
        InMemoryCollectionStore.fromRows(src, "docs", dsc))
      connectorRead(s, "ft_store", "docs")
        .option("partitions", "4")
        .option("filter", "text:match_text:vector batch")
        .load()
        .select(col("id"), json_get_str(col("payload"), "source").as("source"))
    },
      """WITH t AS (SELECT doc_id, source,
        |                  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |           FROM documents)
        |SELECT CAST(doc_id AS VARCHAR) AS id, source FROM t
        |WHERE len(list_filter(toks, x -> x = 'vector')) > 0
        |  AND len(list_filter(toks, x -> x = 'batch')) > 0
        |ORDER BY id""".stripMargin),

    // ValuesCount condition: the number of values under a payload key
    // (array length, 1 for a scalar) against a bound — the backend's
    // values_count range form. `tags` carries doc_id % 4 values (an
    // EMPTY array when 0, so the zero-count row is represented, not
    // absent); the filter keeps counts >= 2.
    Gate("dsv2_filter_values_count", (s, dir) => {
      val dsc = graft.collections.CollectionDescriptor("docs", Seq())
      val src = docs(s, dir).select(
        col("doc_id").cast(StringType).as("id"),
        to_json(struct(
          when(col("doc_id") % 4 === 0, array().cast(ArrayType(LongType)))
            .otherwise(sequence(lit(1L), col("doc_id") % 4)).as("tags"),
          col("source"))).as("payload"))
      CollectionStores.register("vc_store",
        InMemoryCollectionStore.fromRows(src, "docs", dsc))
      connectorRead(s, "vc_store", "docs")
        .option("partitions", "4")
        .option("filter", "tags:values_count:gte:2")
        .load()
        .select(col("id"), json_get_str(col("payload"), "source").as("source"))
    },
      """SELECT CAST(doc_id AS VARCHAR) AS id, source
        |FROM documents WHERE doc_id % 4 >= 2 ORDER BY id""".stripMargin),

    // HasVector condition: filter on the PRESENCE of a named vector
    // field — the backend's has_vector, meaningful exactly for
    // heterogeneous collections where points carry disjoint field
    // subsets (image_embedding exists where vec_id % 3 IN (1, 2))
    Gate("dsv2_filter_has_vector", (s, dir) => {
      CollectionStores.register("hv_store", InMemoryCollectionStore.fromRows(
        Collections.heterogeneous(s, dir),
        "hetero", Collections.heterogeneousDescriptor))
      connectorRead(s, "hv_store", "hetero")
        .option("partitions", "4")
        .option("filter", "image_embedding:has_vector:")
        .load()
        .select(col("id"), col("payload"))
    },
      // image_embedding populated where vec_id % 3 IN (1, 2) — the hetero
      // collection's field assignment (see dsv2_hetero)
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings WHERE vec_id % 3 IN (1, 2) ORDER BY id""".stripMargin),

    // DatetimeRange condition: RFC 3339 bounds over a datetime payload
    // string — the backend's datetime_range. Half-open [Jan 10, Jan 20)
    // window over the events timeline; the store parses the payload's
    // microsecond-precision strings, the oracle compares native
    // timestamps — equality of the two decisions is the test.
    Gate("dsv2_filter_datetime", (s, dir) => {
      CollectionStores.register("dtf_store",
        Fixtures.eventsDtStore(s, dir))
      connectorRead(s, "dtf_store", "events")
        .option("partitions", "4")
        .option("filter",
          "created:dt_gte:2024-01-10T00:00:00;created:dt_lt:2024-01-20T00:00:00")
        .load()
        .select(col("id"),
          json_get_str(col("payload"), "event_type").as("event_type"))
    },
      """SELECT CAST(event_id AS VARCHAR) AS id, event_type
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY id""".stripMargin),

    // MatchPhrase condition: query tokens CONSECUTIVE in the field's
    // token sequence (match_text's unordered bag is not phrase
    // semantics) — the backend's phrase match on a text-indexed field
    Gate("dsv2_filter_phrase", (s, dir) => {
      val dsc = graft.collections.CollectionDescriptor("docs", Seq())
      val src = docs(s, dir).select(
        col("doc_id").cast(StringType).as("id"),
        to_json(struct(col("source"), col("text"))).as("payload"))
      CollectionStores.register("ph_store",
        InMemoryCollectionStore.fromRows(src, "docs", dsc))
      connectorRead(s, "ph_store", "docs")
        .option("partitions", "4")
        .option("filter", "text:phrase:the data")
        .load()
        .select(col("id"), json_get_str(col("payload"), "source").as("source"))
    },
      // tokens CONSECUTIVE <=> whitespace-bounded 'the' then \s+ then
      // whitespace-bounded 'data' (tokens are maximal non-space runs)
      """SELECT CAST(doc_id AS VARCHAR) AS id, source
        |FROM documents
        |WHERE regexp_matches(lower(text), '(^|\s)the\s+data(\s|$)')
        |ORDER BY id""".stripMargin),

    // GeoRadius condition: haversine distance from a center against a
    // `{lat, lon}` payload object — the backend's geo_radius filter,
    // evaluated store-side with term-for-term the same IEEE ops as
    // `v_geo_distance` (the oracle mirrors the formula literally)
    Gate("dsv2_filter_geo_radius", (s, dir) => {
      CollectionStores.register("gr_store",
        Fixtures.eventsGeoStore(s, dir))
      connectorRead(s, "gr_store", "events")
        .option("partitions", "4")
        .option("filter", "loc:geo_radius:48.8566,2.3522,2000000")
        .load()
        .select(col("id"),
          json_get_str(col("payload"), "event_type").as("event_type"))
    },
      // the haversine mirrored term-for-term from the store-side kernel
      // (PayloadCondition.haversineMeters): dLat/dLon halved inside sin,
      // (cos * cos) * sin^2 association, 12742000.0 = 2 * 6371000.0
      """SELECT CAST(event_id AS VARCHAR) AS id, event_type
        |FROM events
        |WHERE 12742000.0 * asin(sqrt(
        |        pow(sin(((CAST(user_id % 90 AS DOUBLE) - 48.8566) * 0.017453292519943295) / 2), 2) +
        |        cos(48.8566 * 0.017453292519943295) *
        |        cos(CAST(user_id % 90 AS DOUBLE) * 0.017453292519943295) *
        |        pow(sin(((CAST(event_id % 180 AS DOUBLE) - 2.3522) * 0.017453292519943295) / 2), 2)
        |      )) <= 2000000.0
        |ORDER BY id""".stripMargin),

    // GeoBoundingBox condition with the ANTIMERIDIAN wrap (left lon >
    // right lon — the backend's convention): longitude membership is the
    // OR of the two arcs, latitude a plain BETWEEN
    Gate("dsv2_filter_geo_box", (s, dir) => {
      CollectionStores.register("gb_store",
        Fixtures.eventsGeoStore(s, dir))
      connectorRead(s, "gb_store", "events")
        .option("partitions", "4")
        .option("filter", "loc:geo_box:70,170,10,20")
        .load()
        .select(col("id"),
          json_get_str(col("payload"), "event_type").as("event_type"))
    },
      // wrap box (left 170 > right 20): lon in [170, 180] OR [-180, 20]
      """SELECT CAST(event_id AS VARCHAR) AS id, event_type
        |FROM events
        |WHERE (user_id % 90) BETWEEN 10 AND 70
        |  AND ((event_id % 180) >= 170 OR (event_id % 180) <= 20)
        |ORDER BY id""".stripMargin),

    // GeoPolygon condition in the wire DSL (`key:geo_polygon:vertices`):
    // the same ray cast the engine op runs (Geo.pointInPolygon's
    // per-edge arithmetic), evaluated store-side over the {lat, lon}
    // payload object — closing the vocabulary gap where the engine had
    // polygons but the store/wire stopped at radius/box. Oracle SQL is
    // GENERATED from the same vertex list (Geo.polygonSql)
    Gate("dsv2_filter_geo_polygon", (s, dir) => {
      CollectionStores.register("gp_store",
        Fixtures.eventsPolyStore(s, dir))
      val verts = Fixtures.GeoPoly
        .flatMap { case (la, lo) => Seq(la, lo) }.mkString(",")
      connectorRead(s, "gp_store", "events")
        .option("partitions", "4")
        .option("filter", s"loc:geo_polygon:$verts")
        .load()
        .select(col("id"),
          json_get_str(col("payload"), "event_type").as("event_type"))
    },
      // the identical per-edge ray cast, generated from the same vertices
      s"""SELECT CAST(event_id AS VARCHAR) AS id, event_type
         |FROM events
         |WHERE ${graft.ops.Geo.polygonSql("CAST(user_id AS DOUBLE)",
                   "CAST(event_id % 180 AS DOUBLE)", GeoPoly)}
         |ORDER BY id""".stripMargin),

    // Nested condition: ONE array element satisfies ALL sub-conditions
    // (per-element scoping — the backend's nested filter). Each doc's
    // `items` carries a decoy element (tag=meta, n=n_chars, large) and
    // the probed element (tag=alt, n=doc_id%100): evaluating the
    // sub-conditions independently across elements would match nearly
    // every row; the correct same-element form keeps exactly n>=50.
    Gate("dsv2_filter_nested", (s, dir) => {
      val dsc = graft.collections.CollectionDescriptor("docs", Seq())
      val src = docs(s, dir).select(
        col("doc_id").cast(StringType).as("id"),
        to_json(struct(
          array(
            struct(lit("meta").as("tag"), col("n_chars").as("n")),
            struct(lit("alt").as("tag"), (col("doc_id") % 100).as("n")))
            .as("items"),
          col("source"))).as("payload"))
      CollectionStores.register("nf_store",
        InMemoryCollectionStore.fromRows(src, "docs", dsc))
      connectorRead(s, "nf_store", "docs")
        .option("partitions", "4")
        .option("filter", "items:nested:tag|eq|alt&n|gte|50")
        .load()
        .select(col("id"), json_get_str(col("payload"), "source").as("source"))
    },
      // same-element scoping: only the tag='alt' element's n counts
      """SELECT CAST(doc_id AS VARCHAR) AS id, source
        |FROM documents WHERE doc_id % 100 >= 50 ORDER BY id""".stripMargin),

    // COUNT(*) + payload filter = the backend count API's full-filter
    // exact form: the pushed CountStar composes with the `must`
    // conditions into CollectionFilteredCountScan — ONE row crosses the
    // scan boundary, no payload ever decodes above it
    Gate("dsv2_payload_count", (s, dir) => {
      CollectionStores.register("pfc_store", homMemStore(s, dir))
      connectorRead(s, "pfc_store", "embeddings")
        .option("filter", "label:gte:2;label:lt:5")
        .load()
        .agg(count(lit(1)).as("n"))
    },
      "SELECT COUNT(*) AS n FROM embeddings WHERE label >= 2 AND label < 5"),

    // FILTERED vector search — the backend's defining query form
    // (`query_points` with query AND filter): the store restricts
    // candidates BEFORE ranking, so the result is the true top-k of the
    // matching subset (k full rows), not a post-filtered short page of
    // the global top-k
    Gate("dsv2_filtered_search", (s, dir) => {
      CollectionStores.register("fs_store", homMemStore(s, dir))
      val q = queryVector(s, dir, 7)
      connectorRead(s, "fs_store", "embeddings")
        .search("vector", q, "cosine", k = 12)
        .option("filter", "label:gte:2")
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the filter applies BEFORE ranking: top-12 OF THE MATCHING SUBSET
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  WHERE e.label >= 2
        |  ORDER BY s DESC, id ASC LIMIT 12)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // search PAGINATION + SCORE CUT through the connector — the
    // backend's offset / score_threshold query params: the store serves
    // page 2 (offset=4, k=6) of the >=0.25 slice in ONE scored fetch
    // (offset deepens the heap, threshold filters before insertion);
    // nothing above the scan re-sorts or re-filters
    Gate("dsv2_search_page", (s, dir) => {
      CollectionStores.register("page_store", homMemStore(s, dir))
      val q = queryVector(s, dir, 5)
      connectorRead(s, "page_store", "embeddings")
        .search("vector", q, "cosine", k = 6)
        .option("search.offset", "4")
        .option("search.scoreThreshold", "0.25")
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
        |top AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
        |  FROM embeddings e, q
        |  WHERE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) >= 0.25
        |  ORDER BY s DESC, id ASC LIMIT 6 OFFSET 4)
        |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin),

    // COUNT(*) through the connector resolves as a store metadata hit
    // (CollectionCountScan, asserted in CollectionDataSourceSpec) — the
    // cardinality call every catalog issues, without scanning a point
    Gate("dsv2_count", (s, dir) => {
      CollectionStores.register("count_store", homMemStore(s, dir))
      connectorRead(s, "count_store", "embeddings")
        .load()
        .agg(count(lit(1)).as("n"))
    },
      "SELECT COUNT(*) AS n FROM embeddings"),

    // the count API's FILTERED form (exact=true): COUNT(*) over a keyset
    // slice composes the pushed id predicate with the pushed CountStar —
    // the store walks the narrowed id range with payload/vectors off and
    // ships ONE row (CollectionFilteredCountScan, plan-asserted)
    Gate("dsv2_count_filtered", (s, dir) => {
      CollectionStores.register("countf_store", homMemStore(s, dir))
      connectorRead(s, "countf_store", "embeddings")
        .load()
        .filter(col("id") > "55")
        .agg(count(lit(1)).as("n"))
    },
      """SELECT COUNT(*) AS n FROM embeddings
        |WHERE CAST(vec_id AS VARCHAR) > '55'""".stripMargin),

    // the STREAMING read path: a bounded (AvailableNow) replay of the
    // store's upsert log through the connector's micro-batch CDC source —
    // one clean ingest replays as exactly the collection contents
    Gate("dsv2_stream_read", (s, dir) => {
      CollectionStores.register("cdc_store", homMemStore(s, dir))
      val sink = s"cdc_out_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      drain(s.readStream.format("graft.sources.CollectionDataSource")
        .option("store", "cdc_store").option("collection", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
        .writeStream.format("memory").queryName(sink), tempDir("graft-cdc-gate"))
      s.table(sink)
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // CDC streaming over the BINARY wire: the micro-batch source's
    // log_size/log_entries calls cross the protobuf transport — the
    // upsert log replays through a remote client exactly as it does
    // locally (same oracle as dsv2_stream_read; transport invisible)
    Gate("dsv2_grpc_stream_read", (s, dir) => {
      val (h, p) = Fixtures.grpcBackedAddr(s, dir)
      CollectionStores.register("grpc_cdc_store", new GrpcCollectionStore(h, p))
      val sink = s"gcdc_out_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      drain(s.readStream.format("graft.sources.CollectionDataSource")
        .option("store", "grpc_cdc_store").option("collection", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
        .writeStream.format("memory").queryName(sink), tempDir("graft-gcdc"))
      s.table(sink)
    },
      // CDC replay through the protobuf transport: same stream, same rows
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // continuous collection-to-collection ETL: stream the upsert log OUT
    // of one collection, transform, stream INTO another — both ends are
    // the connector's own streaming surfaces; the bounded run must land
    // exactly the filtered/re-labeled contents in the sink collection
    Gate("dsv2_stream_pipeline", (s, dir) => {
      CollectionStores.register("etl_src", homMemStore(s, dir))
      CollectionStores.register("etl_dst", InMemoryCollectionStore.single(
        "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
      drain(s.readStream.format("graft.sources.CollectionDataSource")
        .option("store", "etl_src").option("collection", "embeddings")
        .option("partitions", "4").load()
        // keep even-labeled points, stamp the payload with a pipeline tag
        .filter(json_get_int(col("payload"), "label") % 2 === 0)
        .select(col("id"),
          concat(lit("""{"etl":1,"orig":"""), col("payload"), lit("}")).as("payload"),
          col("vector"))
        .writeStream.format("graft.sources.CollectionDataSource")
        .option("store", "etl_dst").option("collection", "embeddings"), tempDir("graft-etl-ckpt"))
      connectorRead(s, "etl_dst", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT id, '{"etl":1,"orig":' || payload || '}' AS payload FROM (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         to_json({'label': label}) AS payload,
        |         label
        |  FROM embeddings)
        |WHERE label % 2 = 0 ORDER BY id""".stripMargin),

    // keyset scroll THROUGH the connector: the `id > last` predicate pushes
    // to the store scan (SupportsPushDownFilters), which skips the sealed
    // id-sorted prefix instead of sorting past a deep offset — the scale
    // form of scroll served by the source itself, not a post-scan filter
    // (pushdown asserted in CollectionDataSourceSpec)
    Gate("dsv2_scroll_keyset", (s, dir) => {
      CollectionStores.register("scroll_store", homMemStore(s, dir))
      connectorRead(s, "scroll_store", "embeddings")
        .option("partitions", "4").load()
        .filter(col("id") > "29")
        .select(col("id"), col("payload"))
        .orderBy(col("id"))
        .limit(10)
    },
      // keyset page: lexicographic id > '29' over the string-keyed
      // collection (both engines compare strings bytewise)
      """SELECT id, payload FROM (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         to_json({'label': label}) AS payload
        |  FROM embeddings)
        |WHERE id > '29' ORDER BY id LIMIT 10""".stripMargin),

    // the DSv2 WRITE path end-to-end (A12, todo!() in the reference): seed
    // an empty collection, append the corpus through df.write (points
    // buffer executor-side, the commit seals them), read it back through
    // the connector, match the same parquet oracle
    Gate("dsv2_write", (s, dir) => {
      CollectionStores.register("write_store", InMemoryCollectionStore.single(
        "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
      homRows(s, dir)
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "write_store").option("collection", "embeddings")
        .mode("append").save()
      connectorRead(s, "write_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // the heterogeneous NAMED collection END-TO-END through the connector —
    // the reference's flagship e2e shape (the reference's tests/e2e.rs:
    // 111-332): named dense fields on disjoint point subsets, a
    // multi-vector field, a sparse field, NULL for absent fields. Rows
    // encode to wire Points executor-side through the DSv2 WRITE (dense +
    // multi + sparse branches of CollectionDataWriter), seal id-sorted,
    // and decode back through PointDecoder on read — every field kind
    // value-checked against the parquet oracle, not just id/payload.
    Gate("dsv2_hetero", (s, dir) => {
      CollectionStores.register("hetero_store", InMemoryCollectionStore.fromRows(
        Collections.heterogeneous(s, dir),
        "hetero", Collections.heterogeneousDescriptor))
      connectorRead(s, "hetero_store", "hetero")
        .option("partitions", "4").load()
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
      // the store round-trip must reproduce the same frame the hetero_nulls
      // view computes directly from parquet — same CASE structure, plus the
      // image (dense) and multi fields the view gate leaves unchecked
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

    // NAMED-field vector search through the connector: the projection
    // narrows the store fetch to id + text_embedding (FetchSpec), rows
    // lacking the field decode as NULL and are excluded, and the codegen
    // cosine kernel ranks the store-decoded vectors — the heterogeneous
    // analog of dsv2_vector_search (reference e2e.rs:214-238 searches a
    // named field of the same collection shape)
    // the flagship hybrid shape THROUGH the connector: dense (named
    // field) + sparse branches from the same store round-trip, fused by
    // RRF — reference e2e hybrid query re-expressed
    Gate("dsv2_hybrid", (s, dir) => {
      CollectionStores.register("hy_store", InMemoryCollectionStore.fromRows(
        Collections.heterogeneous(s, dir),
        "hetero", Collections.heterogeneousDescriptor))
      val base = connectorRead(s, "hy_store", "hetero")
        .option("partitions", "4").load()
      val qd = queryVector(s, dir, 0)
      val dense = base
        .filter(col("id") =!= "0" && col("text_embedding").isNotNull)
        .select(col("id"),
          round(v_cosine(dvec(col("text_embedding")), vec(qd)), 6).as("score"))
        .orderBy(col("score").desc, col("id").asc).limit(50)
      val sp = base
        .select(col("id"), col("keywords_indices").as("ki"),
          col("keywords_values").cast(ArrayType(DoubleType)).as("kv"))
        .filter(col("ki").isNotNull)
      val qs = sp.filter(col("id") === "0")
        .select(col("ki").as("qi"), col("kv").as("qv"))
      val sparse = sp.filter(col("id") =!= "0").crossJoin(broadcast(qs))
        .withColumn("score",
          round(v_sparse_dot(col("ki"), col("kv"), col("qi"), col("qv")), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc).limit(50)
      Search.fuseRRF(Seq(dense, sparse), k = 20)
    },
      // sparse keywords field holds the strictly-positive embedding
      // positions; present where vec_id % 3 <> 1 (query = vec_id 0's)
      // dense branch = dsv2_hetero_search mirror, sparse branch =
      // dsv2_sparse_search mirror, fused with the rrf_fusion formula
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |b1 AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rn FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |  FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 IN (0, 1)
        |  ORDER BY score DESC, id ASC LIMIT 50)),
        |b2 AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rn FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         ROUND(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |               i -> CASE WHEN e.embedding[i] > 0 AND q.qv[i] > 0
        |                    THEN CAST(e.embedding[i] AS DOUBLE) * q.qv[i] ELSE 0.0 END)), 6) AS score
        |  FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 <> 1
        |  ORDER BY score DESC, id ASC LIMIT 50))
        |SELECT COALESCE(b1.id, b2.id) AS id,
        |       ROUND(COALESCE(1.0 / (60 + b1.rn), 0) + COALESCE(1.0 / (60 + b2.rn), 0), 6) AS fused_score
        |FROM b1 FULL OUTER JOIN b2 ON b1.id = b2.id
        |ORDER BY fused_score DESC, id ASC LIMIT 20""".stripMargin),

    Gate("dsv2_hetero_search", (s, dir) => {
      CollectionStores.register("hs_store", InMemoryCollectionStore.fromRows(
        Collections.heterogeneous(s, dir),
        "hetero", Collections.heterogeneousDescriptor))
      val q = queryVector(s, dir, 0)
      connectorRead(s, "hs_store", "hetero")
        .option("partitions", "4").load()
        .filter(col("id") =!= "0" && col("text_embedding").isNotNull)
        .select(col("id"),
          round(v_cosine(dvec(col("text_embedding")), vec(q)), 6).as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      // named-field search over the store round-trip: text_embedding is
      // populated where vec_id % 3 IN (0, 1); NULL rows cannot match
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 IN (0, 1)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // SPARSE search through the connector: the keywords field decodes
    // from the store as the (indices, values) pair, the fetch narrows to
    // that ONE logical field (both physical columns), rows lacking it are
    // NULL and excluded, and the sorted-merge sparse-dot kernel ranks —
    // the sparse leg of the reference's named-collection e2e
    Gate("dsv2_sparse_search", (s, dir) => {
      CollectionStores.register("ss_store", InMemoryCollectionStore.fromRows(
        Collections.heterogeneous(s, dir),
        "hetero", Collections.heterogeneousDescriptor))
      val base = connectorRead(s, "ss_store", "hetero")
        .option("partitions", "4").load()
        .select(col("id"), col("keywords_indices").as("ki"),
          col("keywords_values").cast(ArrayType(DoubleType)).as("kv"))
        .filter(col("ki").isNotNull)
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
        |FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 <> 1
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // MULTI-VECTOR (MaxSim) search through the connector: the ragged
    // multi_embeddings field decodes from the store, NULL rows (points
    // without the field) are excluded, and the MaxSim kernel ranks — the
    // third vector-kind leg of the named-collection e2e, so all of
    // dense / sparse / multi now search end-to-end over store decode
    Gate("dsv2_multi_search", (s, dir) => {
      CollectionStores.register("ms_store", InMemoryCollectionStore.fromRows(
        Collections.heterogeneous(s, dir),
        "hetero", Collections.heterogeneousDescriptor))
      val base = connectorRead(s, "ms_store", "hetero")
        .option("partitions", "4").load()
        .select(col("id"), col("multi_embeddings").as("multi"))
        .filter(col("multi").isNotNull)
      val q = base.filter(col("id") === "0").select(col("multi").as("__qmulti"))
      base.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .withColumn("score", round(v_maxsim(col("multi"), col("__qmulti")), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      // multi field is [embedding, reverse(embedding)], present where
      // vec_id % 3 = 0 (the colbert_maxsim arithmetic over that subset)
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q1,
        |                  CAST(list_reverse(embedding) AS DOUBLE[]) AS q2
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT id, ROUND(m1 + m2, 6) AS score FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         greatest(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.q1),
        |                  list_inner_product(CAST(list_reverse(e.embedding) AS DOUBLE[]), q.q1)) AS m1,
        |         greatest(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.q2),
        |                  list_inner_product(CAST(list_reverse(e.embedding) AS DOUBLE[]), q.q2)) AS m2
        |  FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 = 0)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // INDEXED MULTI-VECTOR (MaxSim) search: the pushed multi query
    // serves from the POOLED-key graph sidecar — candidates walk the
    // per-segment graphs over mean-pooled keys, the exact MaxSim kernel
    // rescores only the candidate margin from the segment partitions
    // (the backend's multivector HNSW + MaxSim comparator,
    // the reference's tests/e2e.rs:142-147). Same brute oracle as
    // dsv2_multi_search: the index must be invisible in the page.
    // Candidate-stage pruning is spec-asserted (primaries never open).
    Gate("dsv2_multi_indexed_search", (s, dir) => {
      CollectionStores.register("pq_multiidx_store",
        Fixtures.parquetMultiVecIndexStore(s, dir))
      val qm = Collections.heterogeneous(s, dir)
        .filter(col("id") === "0")
        .select(col("multi_embeddings")).head()
        .getSeq[scala.collection.Seq[Float]](0)
      val mv = qm.map(_.map(x => java.lang.Double.toString(x.toDouble))
        .mkString(",")).mkString(";")
      connectorRead(s, "pq_multiidx_store", "hetero")
        .option("search.field", "multi_embeddings")
        .option("search.multiVector", mv)
        .option("search.k", "10")
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // the indexed multi-vector serve must be invisible: same brute
      // MaxSim oracle as dsv2_multi_search (the pooled candidate stage +
      // exact margin rescore recovers the exact page)
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q1,
        |                  CAST(list_reverse(embedding) AS DOUBLE[]) AS q2
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT id, ROUND(m1 + m2, 6) AS score FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         greatest(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.q1),
        |                  list_inner_product(CAST(list_reverse(e.embedding) AS DOUBLE[]), q.q1)) AS m1,
        |         greatest(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.q2),
        |                  list_inner_product(CAST(list_reverse(e.embedding) AS DOUBLE[]), q.q2)) AS m2
        |  FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 = 0)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // FILTERED indexed multi-vector search: payload filter + ColBERT
    // MaxSim served from the pooled-key graph — the dense filtered-HNSW
    // planner (index-resolved matched ids, cost-based exact-micro vs
    // accepting-walk arms) composed with the exact MaxSim rescore of
    // the margin. The backend filters every query form uniformly (its
    // ColBERT section sits beside the filtered sections,
    // the reference's tests/bin/tests.sql:156-168); late-interaction +
    // payload filter is the routine hybrid-retrieval shape. Exact at
    // both SFs vs the brute filtered MaxSim oracle (gate scale rides
    // the micro arm; MultiIndexedSpec pins BOTH arms by counter at
    // past-the-dial corpus size).
    Gate("dsv2_multi_indexed_filtered", (s, dir) => {
      CollectionStores.register("pq_multiidxf_store",
        Fixtures.parquetMultiVecFilteredStore(s, dir))
      val qm = Collections.heterogeneous(s, dir)
        .filter(col("id") === "0")
        .select(col("multi_embeddings")).head()
        .getSeq[scala.collection.Seq[Float]](0)
      val mv = qm.map(_.map(x => java.lang.Double.toString(x.toDouble))
        .mkString(",")).mkString(";")
      connectorRead(s, "pq_multiidxf_store", "hetero")
        .option("filter", "label:lte:5")
        .option("search.field", "multi_embeddings")
        .option("search.multiVector", mv)
        .option("search.k", "10")
        .load()
        .select(col("id"), round(col("_score"), 6).as("score"))
    },
      // filtered indexed multi-vector: the planner arms (exact micro /
      // accepting pooled walk) must be invisible — brute filtered MaxSim
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q1,
        |                  CAST(list_reverse(embedding) AS DOUBLE[]) AS q2
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT id, ROUND(m1 + m2, 6) AS score FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         greatest(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.q1),
        |                  list_inner_product(CAST(list_reverse(e.embedding) AS DOUBLE[]), q.q1)) AS m1,
        |         greatest(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.q2),
        |                  list_inner_product(CAST(list_reverse(e.embedding) AS DOUBLE[]), q.q2)) AS m2
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> 0 AND e.vec_id % 3 = 0 AND e.label <= 5)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the CATALOG surface: collections addressed as <catalog>.<name> in
    // plain SQL — configure the catalog once (conf), and reads resolve
    // through CollectionCatalog.loadTable to the same CollectionTable the
    // path API uses (identical pushdown/statistics). The Spark-native
    // form of the reference's per-table SessionContext registration (A1)
    Gate("dsv2_catalog_sql", (s, dir) => {
      CollectionStores.register("catalog_store", homMemStore(s, dir))
      s.conf.set("spark.sql.catalog.graft_cat",
        "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.store", "catalog_store")
      s.sql(
        """SELECT id, payload FROM graft_cat.embeddings
          |WHERE id > '29' ORDER BY id LIMIT 10""".stripMargin)
    },
      // catalog-addressed SQL resolves to the same scan as the path API —
      // same rows as the keyset page over the source parquet
      """SELECT id, payload FROM (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         to_json({'label': label}) AS payload
        |  FROM embeddings)
        |WHERE id > '29' ORDER BY id LIMIT 10""".stripMargin),

    // CREATE TABLE AS SELECT through the catalog: the ingest DDL a
    // SQL-first user reaches for before df.write — Spark's non-atomic
    // CTAS (create, then write through the table's own WriteBuilder,
    // dropping on failure) against CollectionCatalog.createTable, with
    // the descriptor derived from the SELECT's schema
    // plain INSERT INTO ... SELECT through the catalog — completes the
    // SQL DML matrix (INSERT / UPDATE / DELETE / MERGE / CTAS / ALTER /
    // TRUNCATE all gated)
    Gate("dsv2_insert_sql", (s, dir) => {
      CollectionStores.register("ins_store", homMemStore(s, dir))
      s.conf.set("spark.sql.catalog.ins_cat", "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.ins_cat.store", "ins_store")
      s.sql("DROP TABLE IF EXISTS ins_cat.picked")
      s.sql("CREATE TABLE ins_cat.picked (id STRING, payload STRING, vector ARRAY<FLOAT>)")
      s.sql(
        """INSERT INTO ins_cat.picked
          |SELECT id, payload, vector FROM ins_cat.embeddings
          |WHERE id LIKE '%7'""".stripMargin)
      s.sql("SELECT id, payload FROM ins_cat.picked")
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings
        |WHERE CAST(vec_id AS VARCHAR) LIKE '%7'
        |ORDER BY id""".stripMargin),

    Gate("dsv2_ctas", (s, dir) => {
      CollectionStores.register("ctas_store", homMemStore(s, dir))
      s.conf.set("spark.sql.catalog.ctas_cat", "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.ctas_cat.store", "ctas_store")
      s.sql("DROP TABLE IF EXISTS ctas_cat.evens")
      s.sql(
        """CREATE TABLE ctas_cat.evens AS
          |SELECT id, payload, vector FROM ctas_cat.embeddings
          |WHERE CAST(get_json_object(payload, '$.label') AS INT) % 2 = 0""".stripMargin)
      s.sql("SELECT id, payload FROM ctas_cat.evens")
    },
      """SELECT id, payload FROM (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         to_json({'label': label}) AS payload,
        |         label
        |  FROM embeddings)
        |WHERE label % 2 = 0 ORDER BY id""".stripMargin),

    // schema evolution through the catalog: ALTER TABLE ADD COLUMNS
    // appends a NEW vector field as a descriptor-only change (no data
    // rewrite at any scale — the heterogeneity rule already decodes the
    // field as NULL on pre-alter points); post-alter inserts carry it
    Gate("dsv2_alter", (s, dir) => {
      CollectionStores.register("alter_store",
        new InMemoryCollectionStore(Map.empty, Map.empty))
      s.conf.set("spark.sql.catalog.alter_cat", "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.alter_cat.store", "alter_store")
      s.sql("DROP TABLE IF EXISTS alter_cat.prof")
      s.sql("CREATE TABLE alter_cat.prof (id STRING, payload STRING, emb ARRAY<FLOAT>)")
      s.sql("INSERT INTO alter_cat.prof VALUES " +
        "('a', NULL, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))), " +
        "('b', '{\"k\":1}', array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
      s.sql("ALTER TABLE alter_cat.prof ADD COLUMNS (emb2 ARRAY<FLOAT>)")
      s.sql("INSERT INTO alter_cat.prof VALUES " +
        "('c', NULL, array(CAST(5.0 AS FLOAT), CAST(6.0 AS FLOAT)), " +
        "array(CAST(7.0 AS FLOAT), CAST(8.0 AS FLOAT)))")
      s.sql("SELECT * FROM alter_cat.prof")
        .select(col("id"), col("payload"),
          vq6(col("emb")).as("emb_q6"), vq6(col("emb2")).as("emb2_q6"))
    },
      """SELECT * FROM (VALUES
        |  ('a', NULL, '1000000,2000000', NULL),
        |  ('b', '{"k":1}', '3000000,4000000', NULL),
        |  ('c', NULL, '5000000,6000000', '7000000,8000000'))
        |t(id, payload, emb_q6, emb2_q6) ORDER BY id""".stripMargin),

    // SQL DELETE through the catalog (SupportsDeleteV2): the reference
    // client's delete-points call as Spark DDL — deletes resolve by id
    // through the store's TOMBSTONE path (the sealed index shrinks AND
    // the change log records the deletes), then the survivors read back
    Gate("dsv2_delete_sql", (s, dir) => {
      CollectionStores.register("delsql_store", homMemStore(s, dir))
      s.conf.set("spark.sql.catalog.del_cat", "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.del_cat.store", "delsql_store")
      s.sql("DELETE FROM del_cat.embeddings WHERE id IN ('3', '13', '23')")
      connectorRead(s, "delsql_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings WHERE vec_id NOT IN (3, 13, 23) ORDER BY id""".stripMargin),

    // SQL UPDATE through the catalog (SupportsRowLevelOperations): a
    // group-based copy-on-write rewrite — read the collection, apply the
    // SET to matching rows, commit the replacement atomically (CDC diff
    // logged). The DML surface a SQL-first user expects beside DELETE.
    Gate("dsv2_update_sql", (s, dir) => {
      CollectionStores.register("upd_store", homMemStore(s, dir))
      s.conf.set("spark.sql.catalog.upd_cat", "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.upd_cat.store", "upd_store")
      s.sql(
        """UPDATE upd_cat.embeddings
          |SET payload = concat('{"boosted":', payload, '}')
          |WHERE CAST(get_json_object(payload, '$.label') AS INT) % 5 = 0""".stripMargin)
      connectorRead(s, "upd_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       CASE WHEN label % 5 = 0
        |            THEN '{"boosted":' || to_json({'label': label}) || '}'
        |            ELSE to_json({'label': label}) END AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // SQL MERGE INTO through the catalog: upsert-by-query — matched rows
    // update, unmatched source rows insert, one atomic rewrite commit
    Gate("dsv2_merge_sql", (s, dir) => {
      CollectionStores.register("mrg_store", homMemStore(s, dir))
      s.conf.set("spark.sql.catalog.mrg_cat", "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.mrg_cat.store", "mrg_store")
      // source: rows 0..19 re-keyed to 490..509 — 490..499 match (update),
      // 500..509 don't (insert)
      s.sql(
        """MERGE INTO mrg_cat.embeddings t
          |USING (SELECT CAST(CAST(id AS BIGINT) + 490 AS STRING) AS id,
          |              payload, vector
          |       FROM mrg_cat.embeddings WHERE CAST(id AS BIGINT) < 20) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET payload = concat('{"merged":', s.payload, '}')
          |WHEN NOT MATCHED THEN INSERT (id, payload, vector)
          |  VALUES (s.id, s.payload, s.vector)""".stripMargin)
      connectorRead(s, "mrg_store", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """WITH base AS (
        |  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id,
        |         to_json({'label': label}) AS payload
        |  FROM embeddings),
        |src AS (
        |  SELECT CAST(vec_id + 490 AS VARCHAR) AS id, payload
        |  FROM base WHERE vec_id < 20)
        |SELECT b.id,
        |       CASE WHEN s.id IS NOT NULL
        |            THEN '{"merged":' || s.payload || '}' ELSE b.payload END AS payload
        |FROM base b LEFT JOIN src s USING (id)
        |UNION ALL
        |SELECT s.id, s.payload FROM src s
        |WHERE s.id NOT IN (SELECT id FROM base)
        |ORDER BY id""".stripMargin),

    // the CHANGE LOG as a table (cdc=true batch read): after an ingest
    // and a delete, the log replays as upserts of every id (in seal
    // order, positions 0..n-1) followed by delete TOMBSTONES (id only,
    // payload NULL) — the op-history audit face of the collection
    Gate("dsv2_cdc_log", (s, dir) => {
      CollectionStores.register("cdclog_store", homMemStore(s, dir))
      CollectionStores.update("cdclog_store") {
        case mem: InMemoryCollectionStore =>
          mem.removed("embeddings", Set("3", "13", "23"))
        case other => other
      }
      connectorRead(s, "cdclog_store", "embeddings")
        .option("cdc", "true").option("partitions", "4").load()
        .select(col("_op"), col("_seq"), col("id"), col("payload"))
    },
      // ingest seals id-sorted (VARCHAR binary order — same as Spark's
      // UTF8_BINARY for these ASCII ids), so upsert positions are the
      // lexicographic id rank; tombstones follow at n.., again id-sorted
      """WITH base AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         to_json({'label': label}) AS payload
        |  FROM embeddings),
        |n AS (SELECT COUNT(*) AS c FROM base),
        |ups AS (
        |  SELECT 'upsert' AS _op,
        |         CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS _seq,
        |         id, payload
        |  FROM base),
        |dels AS (
        |  SELECT 'delete' AS _op,
        |         CAST(n.c + row_number() OVER (ORDER BY d.id) - 1 AS BIGINT) AS _seq,
        |         d.id, CAST(NULL AS VARCHAR) AS payload
        |  FROM (SELECT id FROM base WHERE id IN ('3', '13', '23')) d, n)
        |SELECT * FROM ups UNION ALL SELECT * FROM dels ORDER BY _seq""".stripMargin),

    // NET CHANGE SET between two versions, served FROM the change log
    // (the change-data-feed shape): slice the log past the base version,
    // last op per id wins — no snapshot join, cost scales with the log
    // slice, not the collection
    Gate("dsv2_version_diff", (s, dir) => {
      CollectionStores.register("vdiff_store", homMemStore(s, dir))
      val base = CollectionStores.get("vdiff_store").logSize("embeddings")
      CollectionStores.update("vdiff_store") {
        case mem: InMemoryCollectionStore =>
          mem.removed("embeddings", Set("3", "13"))
            .payloadPatched("embeddings", Set("7", "17"), """{"reviewed":true}""")
            .appended("embeddings", IndexedSeq(Point("zz_new",
              Some("""{"label":-1}"""),
              dense = Map("vector" -> Array.fill(64)(0.5f)))))
        case other => other
      }
      connectorRead(s, "vdiff_store", "embeddings")
        .option("cdc", "true").option("partitions", "4").load()
        .filter(col("_seq") >= base)
        .groupBy(col("id"))
        .agg(max_by(col("_op"), col("_seq")).as("final_op"),
          count(lit(1)).as("n_entries"))
    },
      // the change set is fully determined by the gate's scripted edits
      """SELECT * FROM (VALUES
        |  ('3', 'delete', CAST(1 AS BIGINT)),
        |  ('13', 'delete', CAST(1 AS BIGINT)),
        |  ('7', 'upsert', CAST(1 AS BIGINT)),
        |  ('17', 'upsert', CAST(1 AS BIGINT)),
        |  ('zz_new', 'upsert', CAST(1 AS BIGINT)))
        |  AS t(id, final_op, n_entries)
        |ORDER BY id""".stripMargin),

    // the dsv2_stream_pipeline shape expressed PURELY in table names:
    // readStream.table -> transform -> writeStream.toTable, both ends
    // resolving through the TableCatalog to the same CollectionTable the
    // path API uses — continuous collection-to-collection ETL as plain
    // SQL-addressable identifiers, no format()/option() plumbing
    Gate("dsv2_stream_table", (s, dir) => {
      CollectionStores.register("st_store", homMemStore(s, dir))
      CollectionStores.update("st_store") {
        case mem: InMemoryCollectionStore => mem.withCollection("replica",
          Collections.homogeneousDescriptor.copy(name = "replica"))
        case other => other
      }
      s.conf.set("spark.sql.catalog.st_cat", "graft.sources.CollectionCatalog")
      s.conf.set("spark.sql.catalog.st_cat.store", "st_store")
      val ckpt = tempDir("graft-st-ckpt")
      val q = s.readStream.table("st_cat.embeddings")
        .filter(json_get_int(col("payload"), "label") % 2 === 0)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append")
        .toTable("st_cat.replica")
      q.processAllAvailable()
      q.stop()
      s.sql("SELECT id, payload FROM st_cat.replica")
    },
      """SELECT id, payload FROM (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |         to_json({'label': label}) AS payload,
        |         label
        |  FROM embeddings)
        |WHERE label % 2 = 0 ORDER BY id""".stripMargin),

    // LOG COMPACTION: truncate the ingest prefix (replaced by a state
    // snapshot), keep the delete tail at its ORIGINAL global positions —
    // the batch CDC read serves exactly the retained tail, seq numbers
    // undisturbed, so checkpointed readers past the compaction point
    // continue unaffected
    Gate("dsv2_cdc_compacted", (s, dir) => {
      CollectionStores.register("cdcc_store", homMemStore(s, dir))
      val ingested = CollectionStores.get("cdcc_store").logSize("embeddings")
      CollectionStores.update("cdcc_store") {
        case mem: InMemoryCollectionStore =>
          mem.removed("embeddings", Set("3", "13", "23"))
            .compacted("embeddings", ingested)
        case other => other
      }
      connectorRead(s, "cdcc_store", "embeddings")
        .option("cdc", "true").option("partitions", "4").load()
        .select(col("_op"), col("_seq"), col("id"))
    },
      // the retained tail: the 3 tombstones at global positions n..n+2
      // (n = ingest count), id-sorted like any removal batch
      """WITH n AS (SELECT COUNT(*) AS c FROM embeddings)
        |SELECT 'delete' AS _op,
        |       CAST(n.c + row_number() OVER (ORDER BY d.id) - 1 AS BIGINT) AS _seq,
        |       d.id
        |FROM (SELECT CAST(vec_id AS VARCHAR) AS id FROM embeddings
        |      WHERE vec_id IN (3, 13, 23)) d, n
        |ORDER BY _seq""".stripMargin),

    // TIME TRAVEL: after deletes, read the collection AS OF the
    // change-log position before them (asOfSeq) — the deleted rows are
    // back, exactly the original ingest. Point-in-time audit reads served
    // from the same log the CDC stream replays.
    Gate("dsv2_time_travel", (s, dir) => {
      CollectionStores.register("tt_store", homMemStore(s, dir))
      val preDelete = CollectionStores.get("tt_store").logSize("embeddings")
      CollectionStores.update("tt_store") {
        case mem: InMemoryCollectionStore =>
          mem.removed("embeddings", Set("3", "13", "23"))
        case other => other
      }
      connectorRead(s, "tt_store", "embeddings")
        .option("asOfSeq", preDelete.toString)
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      // as of the pre-delete log position, every ingested row is present
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY id""".stripMargin),

    // CDC REPLICATION end-to-end: stream the full change log (upserts +
    // delete tombstones, each with its log position) out of one
    // collection and into another through the cdc write face — `_seq`
    // makes the sink apply entries in exact log order, so the replica
    // converges to the source's surviving set, deletes included
    Gate("dsv2_stream_delete", (s, dir) => {
      CollectionStores.register("sd_src", homMemStore(s, dir))
      CollectionStores.update("sd_src") {
        case mem: InMemoryCollectionStore =>
          mem.removed("embeddings", Set("3", "13", "23"))
        case other => other
      }
      CollectionStores.register("sd_dst", InMemoryCollectionStore.single(
        "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
      drain(s.readStream.format("graft.sources.CollectionDataSource")
        .option("store", "sd_src").option("collection", "embeddings")
        .option("cdc", "true").option("partitions", "4").load()
        .writeStream.format("graft.sources.CollectionDataSource")
        .option("store", "sd_dst").option("collection", "embeddings")
        .option("cdc", "true"), tempDir("graft-sd-ckpt"))
      connectorRead(s, "sd_dst", "embeddings")
        .option("partitions", "4").load()
        .select(col("id"), col("payload"))
    },
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings WHERE vec_id NOT IN (3, 13, 23) ORDER BY id""".stripMargin)
  )
}
