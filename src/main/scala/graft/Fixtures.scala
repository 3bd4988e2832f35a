package graft

import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.collections.{CollectionDescriptor, Collections, SparseField}
import graft.functions._
import graft.ops.{Ann, Dedup, TextAnalysis}
import graft.sources.{CollectionGrpcServer, CollectionHttpServer,
  CollectionStore, CollectionStores, GrpcCollectionStore,
  InMemoryCollectionStore, ParquetCollectionStore, Point,
  RemoteCollectionClient, ReplicatedCollectionStore, RestCollectionStore,
  ShardedCollectionStore, WireCollectionClient}

/** The gates' fixture layer: every artifact a gate reads besides the
  * scale-factor tables — stored indexes, sealed and churned stores, wire
  * servers, trained models — plus the shared frame and SQL helpers of the
  * gate families under `graft/gates/`.
  *
  * Four pieces are written once here and nowhere else in the harness:
  *  - [[memo]]: each artifact is built once per (kind, key) per JVM;
  *  - [[tempDir]]: every scratch directory is deleted at JVM exit;
  *  - [[serve]]: every wire fixture's server stops at JVM exit;
  *  - [[Churn]]: the freshness mutations the maintained fixtures apply,
  *    checked against the sidecar watermark by [[requireAbsorbed]].
  */
private[graft] object Fixtures {

  // -- the memo, scratch directories and servers ----------------------------

  private val memos =
    scala.collection.concurrent.TrieMap.empty[(String, String), Any]

  /** `build` runs once per (`kind`, `key`) per JVM; later calls return
    * its value. Builds nest (the IVF stores fill the `#probe` fit from
    * inside their own build), which TrieMap's getOrElseUpdate allows and
    * ConcurrentHashMap.computeIfAbsent refuses ("Recursive update").
    * Artifacts holding localCheckpoint blocks belong to the session that
    * built them; Verify and Bench run one session per JVM.
    */
  private[graft] def memo[T](kind: String, key: String)(build: => T): T =
    memos.getOrElseUpdate((kind, key), build).asInstanceOf[T]

  /** Exit actions, newest first: a server registered after the directory
    * it serves from stops before that directory is deleted.
    */
  private val exitActions = new java.util.concurrent.ConcurrentLinkedDeque[() => Unit]()

  /** One JVM shutdown hook runs every exit action; a failing action
    * does not skip the rest.
    */
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitActions.forEach { f =>
        try f() catch { case _: Throwable => () }
      }))

  private def atExit(f: => Unit): Unit = {
    exitHook
    exitActions.push(() => f)
  }

  /** Deletes `f` and, for a directory, everything under it. */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  /** A fresh scratch directory, deleted with its contents at JVM exit. */
  private[graft] def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    atExit(deleteTree(d))
    d.toString
  }

  /** Where a wire fixture listens: `baseUrl` for REST clients, `addr`
    * for gRPC clients.
    */
  private[graft] final case class Served(host: String, port: Int) {
    def baseUrl: String = s"http://$host:$port"
    def addr: (String, Int) = (host, port)
  }

  /** Serve the registry name `backend` (registering `store` there first,
    * when given) over REST, or gRPC when `grpc`; the server stops at JVM
    * exit. Servers resolve the store by name per request, so a gate may
    * re-register a fresh store behind a running server.
    */
  private[graft] def serve(backend: String, grpc: Boolean = false,
                           store: Option[CollectionStore] = None,
                           apiKey: Option[String] = None): Served = {
    store.foreach(CollectionStores.register(backend, _))
    if (grpc) {
      val srv = new CollectionGrpcServer(backend, apiKey = apiKey).start()
      atExit(srv.stop())
      Served(srv.host, srv.port)
    } else {
      val srv = new CollectionHttpServer(backend, apiKey = apiKey).start()
      atExit(srv.stop())
      Served("127.0.0.1", srv.port)
    }
  }

  /** A per-dir registry name: `prefix` plus the hex hash of `dir`. */
  private def backendOf(prefix: String, dir: String): String =
    s"${prefix}_${Integer.toHexString(dir.hashCode)}"

  // -- the freshness churn --------------------------------------------------

  /** The freshness mutations every maintained fixture applies: `adds`,
    * the points of vec_id < 5 re-keyed as 100000 + vec_id; `update`, id 7
    * taking vec_id 42's vector; `deletes`. Each fixture sends them
    * through its own transport: in-process `appended`/`removed`, a
    * sharded or replicated wrapper, or a REST or gRPC client.
    */
  private[graft] final case class Churn(adds: IndexedSeq[Point],
                                        update: Point, deletes: Set[String]) {
    /** The wire fixtures' order: the inserts sorted by id, the update,
      * then the delete, each its own request.
      */
    def sendTo(client: RemoteCollectionClient): Unit = {
      client.upsertPoints("embeddings", adds.sortBy(_.id))
      client.upsertPoints("embeddings", Seq(update))
      client.deletePoints("embeddings", deletes)
    }

    /** The wrapper fixtures' order: one upsert batch, then the delete. */
    def sendBatched(store: RemoteCollectionClient): Unit = {
      store.upsertPoints("embeddings", adds :+ update)
      store.deletePoints("embeddings", deletes)
    }
  }

  private[graft] object Churn {
    private val Label3 = """{"label":3}"""
    val UpdatedId = "7"
    val UpdateSource = 42
    val DeletedId = "13"

    /** The five inserts, each carrying `payload`. */
    def adds(s: SparkSession, dir: String, payload: String): IndexedSeq[Point] =
      Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).cast(StringType).as("id"),
          col("embedding").cast(ArrayType(FloatType)).as("v"))
        .collect()
        .map(r => Point(r.getString(0), Some(payload),
          dense = Map("vector" -> r.getSeq[Float](1).toArray)))
        .toIndexedSeq

    def apply(s: SparkSession, dir: String, addPayload: String,
              updatePayload: String, deleted: String = DeletedId): Churn = {
      val newVec = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === UpdateSource)
        .select(col("embedding").cast(ArrayType(FloatType)))
        .head().getSeq[Float](0).toArray
      Churn(adds(s, dir, addPayload),
        Point(UpdatedId, Some(updatePayload), dense = Map("vector" -> newVec)),
        Set(deleted))
    }

    /** The label-3 churn of the graph, cluster and payload fixtures. */
    def label3(s: SparkSession, dir: String): Churn =
      apply(s, dir, Label3, Label3)

    /** The mutated-after-index recipe: the five inserts plus a delete of
      * every label-3 point with vec_id % 7 == 0 (no update).
      */
    def mutation(s: SparkSession, dir: String): (IndexedSeq[Point], Set[String]) =
      (adds(s, dir, Label3),
        Tables.load(s, dir, "embeddings")
          .filter(col("label") === 3 && col("vec_id") % 7 === 0)
          .select(col("vec_id").cast(StringType))
          .collect().map(_.getString(0)).toSet)
  }

  /** Applies `churn` to an in-process store step by step, running
    * `afterAdds(sealed)` and `afterUpdate(withAdds)` between the steps,
    * and returns the final store.
    */
  private def churned(sealedStore: ParquetCollectionStore, churn: Churn)(
      afterAdds: ParquetCollectionStore => Unit,
      afterUpdate: ParquetCollectionStore => Unit = _ => ()): ParquetCollectionStore = {
    val m1 = sealedStore.appended("embeddings", churn.adds)
    afterAdds(sealedStore)
    val m2 = m1.appended("embeddings", IndexedSeq(churn.update))
    afterUpdate(m1)
    m2.removed("embeddings", churn.deletes)
  }

  /** A maintained fixture's closing check: the `sidecar` watermark of
    * `pqDir` reached the log `head`, so the gate serves with an empty
    * overlay tail.
    */
  private def requireAbsorbed(pqDir: String, sidecar: String, head: Long,
                              what: String): Unit =
    require(ParquetCollectionStore.readWatermark(
      new java.io.File(s"$pqDir/$sidecar/inserted.txt")).contains(head), what)

  // -- the shared corpus frames of the store fixtures ------------------------

  /** The homogeneous collection as (id, payload, vector). */
  private[graft] def homRows(s: SparkSession, dir: String): DataFrame =
    hom(s, dir).select("id", "payload", "vector")

  /** The embeddings corpus with a derived text body
    * (`"alpha w<label> tag<vec_id%4>"`) as its payload.
    */
  private def textBodied(s: SparkSession, dir: String): DataFrame = {
    val body = concat(lit("alpha w"), col("label"),
      lit(" tag"), col("vec_id") % 4)
    Tables.load(s, dir, "embeddings").select(
      col("vec_id").cast(StringType).as("id"),
      to_json(struct(body.as("body"))).as("payload"),
      col("embedding").as("vector"))
  }

  /** The embeddings corpus with a derived `{loc: {lat, lon}}` payload
    * (a lattice from vec_id).
    */
  private def geoLattice(s: SparkSession, dir: String): DataFrame = {
    val la = (col("vec_id") % 120).cast("double") - 60.0 + 0.25
    val lo = ((col("vec_id") * 7) % 320).cast("double") - 160.0 + 0.25
    Tables.load(s, dir, "embeddings").select(
      col("vec_id").cast(StringType).as("id"),
      to_json(struct(struct(la.as("lat"), lo.as("lon")).as("loc")))
        .as("payload"),
      col("embedding").as("vector"))
  }

  /** The documents corpus as a vector-less collection: id = zero-padded
    * doc_id (string order is numeric order), payload `{body: text}`.
    */
  private def docsBodied(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      lpad(col("doc_id").cast(StringType), 10, "0").as("id"),
      to_json(struct(col("text").as("body"))).as("payload"))

  /** `df` written as a parquet store under a fresh [[tempDir]]; `sidecars`
    * lays the index sidecars into the directory before it is opened.
    */
  private def sealedDir(prefix: String, df: DataFrame, withLog: Boolean = false)(
      sidecars: String => Unit = _ => ()): String = {
    val pqDir = tempDir(prefix)
    ParquetCollectionStore.write(df, pqDir, withLog = withLog)
    sidecars(pqDir)
    pqDir
  }

  private def hnswSidecar(df: DataFrame, pqDir: String, segments: Int,
                          metric: String = "cosine"): Unit =
    ParquetCollectionStore.writeHnswSidecar(df, pqDir, field = "vector",
      m = 8, efConstruction = 64, numSegments = segments, metric = metric)

  private def homStore(pqDir: String, hnswEf: Int = 0): ParquetCollectionStore =
    new ParquetCollectionStore(pqDir, "embeddings",
      Collections.homogeneousDescriptor, hnswEf = hnswEf)

  // -- stored indexes over the homogeneous corpus ---------------------------

  /** The deterministic maxIter=0 IVF fit (the `#probe` key): shared by
    * ann_ivf_probe/_bucketed, [[ivfStored]], [[parquetIvfStore]], the
    * quantized and IVF-PQ stores and [[warmOffline]], so the DuckDB chain
    * mirrors every stage.
    */
  private[graft] def probeIvf(s: SparkSession, dir: String): Ann.IvfIndex =
    memo("ivf", s"$dir#probe")(
      Ann.buildIvf(homD(s, dir), "id", "vector", nlist = 8, maxIter = 0))

  /** The maxIter=5 IVF fit the ann_ivf gate serves from. */
  private[graft] def fittedIvf(s: SparkSession, dir: String): Ann.IvfIndex =
    memo("ivf", dir)(
      Ann.buildIvf(homD(s, dir), "id", "vector", nlist = 8, maxIter = 5))

  /** The IVF fit over the planted near-dup embeddings, shared by the
    * semantic-dedup gates.
    */
  private[graft] def semanticIvf(s: SparkSession, dir: String): Ann.IvfIndex =
    memo("ivf", s"$dir#sem")(
      Ann.buildIvf(embWithNearDups(s, dir), "vec_id", "v",
        nlist = 8, maxIter = 2))

  /** Cluster-partitioned IVF store: the `#probe` index's clustered corpus
    * written `partitionBy("cluster")` to parquet ONCE per dir (the
    * production index layout; an offline batch job like the build itself),
    * plus its centroid table AND the int8-quantized variant of the same
    * layout — (id, codes, scale) partitioned by cluster, so a pruned query
    * reads nprobe/nlist of the files at ~4x less bytes per file. Serving
    * gates read these back (Ann.searchIvfStored /
    * Ann.searchIvfStoredQuantized).
    */
  private[graft] def ivfStored(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    memo("ivfStore", dir) {
      val idx = probeIvf(s, dir)
      val path = tempDir("graft-ivf-store")
      idx.clustered.write.mode("overwrite").partitionBy("cluster").parquet(path)
      val qpath = tempDir("graft-ivf-codes")
      graft.ops.Quant.quantizeColumn(idx.clustered, "vector", "v8")
        .select("id", "v8_codes", "v8_scale", "cluster")
        .write.mode("overwrite").partitionBy("cluster").parquet(qpath)
      (idx.centroids, s.read.parquet(path), s.read.parquet(qpath))
    }

  /** Payload (keyword) index over the homogeneous collection's `label`
    * field: value-partitioned postings + model-sized per-value counts —
    * the artifact [[graft.ops.Planner]]'s cardinality-based filtered
    * search plans against. COVERING (carries the vector), so a selective
    * filter serves from its own value partitions without touching the
    * corpus. Built once per dir (an ingest-time batch job, like the IVF
    * store).
    */
  private[graft] def payloadIndex(s: SparkSession, dir: String): graft.ops.Planner.PayloadIndex =
    memo("payloadIdx", dir)(
      graft.ops.Planner.buildPayloadIndex(homD(s, dir), "id",
        json_get_int(col("payload"), "label"),
        covering = Seq("vector")))

  /** A SECOND payload index over a different key (id mod 7) — the
    * multi-index fixture: qdrant keeps one index per indexed payload
    * field and intersects their candidate sets (ann_filtered_multi).
    */
  private[graft] def payloadIndexMod7(s: SparkSession, dir: String): graft.ops.Planner.PayloadIndex =
    memo("payloadIdx", s"$dir#mod7")(
      graft.ops.Planner.buildPayloadIndex(homD(s, dir), "id",
        pmod(col("id").cast(LongType), lit(7L)),
        covering = Seq("vector")))

  /** Fitted corpus bigram LM (heads/bigram counts as parquet-backed
    * model frames, vocab scalar): TRAINED ONCE per dir like the NB/IVF
    * artifacts — the serving gates (`bigram_logprob`,
    * `perplexity_filter`) measure the SCORING pass, not the fit.
    * `lm_holdout` deliberately keeps its own split fit (its measured
    * point is train+eval).
    */
  private[graft] def bigramLm(s: SparkSession, dir: String): TextAnalysis.BigramLm =
    memo("bigramLm", dir) {
      val lm = TextAnalysis.fitBigramLm(docs(s, dir), "text", alpha = 0.5)
      val hp = tempDir("graft-lm-heads")
      val bp = tempDir("graft-lm-bigrams")
      lm.heads.write.mode("overwrite").parquet(hp)
      lm.bigrams.write.mode("overwrite").parquet(bp)
      lm.copy(heads = s.read.parquet(hp), bigrams = s.read.parquet(bp))
    }

  /** DATETIME payload index over events: the backend's
    * `field_schema: "datetime"` stores timestamps as integers and serves
    * range conditions from the index — here the same integer postings
    * keyed on epoch-day (`datediff(ts, 1970-01-01)`), partition-pruned
    * by BETWEEN exactly like the label index. Built once per dir.
    */
  private[graft] def eventsDayIndex(s: SparkSession, dir: String): graft.ops.Planner.PayloadIndex =
    memo("eventsDayIdx", dir)(
      graft.ops.Planner.buildPayloadIndex(
        Tables.load(s, dir, "events"), "event_id",
        datediff(col("ts").cast(DateType), lit("1970-01-01").cast(DateType))))

  /** KEYWORD payload index over the derived string field
    * `'L' || label` — the string-valued sibling of [[payloadIndex]]
    * (the backend's `field_schema: "keyword"`), covering the vector
    * column; built once per dir like every stored artifact.
    */
  private[graft] def keywordIndex(s: SparkSession, dir: String): graft.ops.Planner.KeywordIndex =
    memo("keywordIdx", dir)(
      graft.ops.Planner.buildKeywordIndex(homD(s, dir), "id",
        concat(lit("L"), json_get_str(col("payload"), "label")),
        covering = Seq("vector")))

  /** The payload index's incremental-maintenance cycle CLOSED
    * (append -> compact): half the corpus written as the base index, the
    * other half appended as a delta batch (small files land in the
    * touched value partitions), then [[graft.ops.Planner.compactPayloadIndex]]
    * rewrites every multi-file partition back to ONE file. Built once
    * per dir like the other stored artifacts; the helper asserts the
    * post-compaction file bound so the gate fails loudly if compaction
    * ever regresses, and the gate's search result proves contents
    * survive the rewrite bit-for-bit.
    */
  private[graft] def compactedPayloadIndex(s: SparkSession, dir: String): graft.ops.Planner.PayloadIndex =
    memo("payloadIdx", s"$dir#compact") {
      val idxDir = new java.io.File(tempDir("graft-pidx-compact"))
      val corpus = homD(s, dir)
      val valueOf = json_get_int(col("payload"), "label")
      val cut = corpus.count() / 2
      graft.ops.Planner.writePayloadIndex(
        corpus.filter(col("id").cast(LongType) < cut), "id", valueOf,
        Seq("vector"), idxDir.toString)
      graft.ops.Planner.writePayloadIndex(
        corpus.filter(col("id").cast(LongType) >= cut), "id", valueOf,
        Seq("vector"), idxDir.toString, mode = "append")
      graft.ops.Planner.compactPayloadIndex(s, idxDir.toString)
      Option(idxDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("value="))
        .foreach { p =>
          val n = Option(p.listFiles()).getOrElse(Array.empty)
            .count(f => f.isFile && f.getName.endsWith(".parquet"))
          require(n == 1, s"compaction left $n files in ${p.getName}")
        }
      graft.ops.Planner.readPayloadIndex(s, idxDir.toString, Seq("vector"))
    }

  // -- sealed parquet stores ------------------------------------------------

  /** The cold parquet-backed [[ParquetCollectionStore]] of `dir`'s
    * homogeneous collection — sealed once per dir (ranged by id into 4
    * files, the ingest-time batch job).
    */
  private[graft] def parquetBackedStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetStore", dir)(
      homStore(sealedDir("graft-pq-collection", homRows(s, dir))()))

  /** The parquet-backed store WITH its IVF sidecar, and its directory:
    * same primary layout as [[parquetBackedStore]], plus the
    * cluster-partitioned replica + centroid store
    * [[ParquetCollectionStore.writeIvfSidecar]] lays down — opened at
    * nprobe=2, so pushed top-k serves probe-pruned without touching the
    * primary files. Reuses [[probeIvf]], so the DuckDB chain mirrors
    * every stage.
    */
  private def parquetIvfStored(s: SparkSession, dir: String): (String, ParquetCollectionStore) =
    memo("parquetIvfStore", dir) {
      val idx = probeIvf(s, dir)
      val pqDir = sealedDir("graft-pq-ivf-collection", homRows(s, dir)) { d =>
        ParquetCollectionStore.writeIvfSidecar(
          idx.clustered.select("id", "payload", "vector", "cluster"),
          idx.centroids, d, field = "vector")
        // the payload index on `label` (covering — carries the vector), so
        // a selective filtered search serves from its value partitions
        ParquetCollectionStore.writePayloadSidecar(
          homRows(s, dir), d, key = "label", kind = "int")
        // the int8 candidate tier beside the cluster replica (inert for
        // stores opened without a candidate margin)
        ParquetCollectionStore.writeIvfQuantizedSidecar(
          idx.clustered.select("id", "vector", "cluster"), d)
      }
      (pqDir, new ParquetCollectionStore(pqDir, "embeddings",
        Collections.homogeneousDescriptor, ivfNprobe = 2))
    }

  private[graft] def parquetIvfStore(s: SparkSession, dir: String): ParquetCollectionStore =
    parquetIvfStored(s, dir)._2

  /** The same IVF-sidecar'd directory opened WITH the quantized
    * candidate margin: pushed dot top-k serves int8-candidates +
    * exact-rerank, both stages cluster-pruned.
    */
  private[graft] def parquetIvfQuantizedStore(s: SparkSession, dir: String): ParquetCollectionStore =
    new ParquetCollectionStore(parquetIvfStored(s, dir)._1, "embeddings",
      Collections.homogeneousDescriptor, ivfNprobe = 2, ivfCandidateK = 100)

  /** IVF + codes sidecars WITHOUT a payload index, opened with a FULL
    * candidate margin: a filtered pushed top-k lands on the quantized
    * arm (no payload sidecar to pre-filter from), candidates cut
    * pre-filter at candidateK = everything in the probed clusters, and
    * the rerank fetch evaluates the conditions — WHERE-before-ORDER
    * exact, the composition gate's fixture.
    */
  private[graft] def parquetIvfQuantizedFilteredStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetIvfStore", s"$dir#qf") {
      val idx = probeIvf(s, dir)
      val pqDir = sealedDir("graft-pq-ivfqf", homRows(s, dir)) { d =>
        ParquetCollectionStore.writeIvfSidecar(
          idx.clustered.select("id", "payload", "vector", "cluster"),
          idx.centroids, d, field = "vector")
        ParquetCollectionStore.writeIvfQuantizedSidecar(
          idx.clustered.select("id", "vector", "cluster"), d)
      }
      new ParquetCollectionStore(pqDir, "embeddings",
        Collections.homogeneousDescriptor, ivfNprobe = 2,
        ivfCandidateK = 1000000)
    }

  /** The DOCUMENTS corpus as a vector-less lakehouse collection
    * ([[docsBodied]]), sealed with the tf/dl text sidecar — the RANKED
    * full-text serving fixture: BM25 top-k reads only the query terms'
    * token buckets.
    */
  private[graft] def parquetTextRankStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetTextRank", dir) {
      val df = docsBodied(s, dir)
      new ParquetCollectionStore(
        sealedDir("graft-pq-textrank", df)(
          ParquetCollectionStore.writeTextSidecar(df, _, key = "body", nBuckets = 16)),
        "documents", CollectionDescriptor("documents", Seq.empty))
    }

  /** The documents corpus rendezvous-SHARDED over 3 parquet members,
    * EACH with its own tf/dl text sidecar over its slice — the
    * distributed-BM25 fixture: partials merge (stats/dfs sum, candidate
    * rows union), the global rank is exact.
    */
  private[graft] def shardedTextRankStore(s: SparkSession, dir: String): ShardedCollectionStore =
    memo("shardedTextRank", dir) {
      val df = docsBodied(s, dir)
      new ShardedCollectionStore((0 until 3).map { i =>
        val own = df.filter(shardOf3(col("id")) === i)
        new ParquetCollectionStore(
          sealedDir(s"graft-pq-shtr$i", own)(
            ParquetCollectionStore.writeTextSidecar(own, _, key = "body", nBuckets = 16)),
          "documents", CollectionDescriptor("documents", Seq.empty))
      })
    }

  /** The parquet store with TWO payload indexes — qdrant's
    * one-index-per-indexed-field model: an int index on `label` and a
    * keyword index on `parity` (vec_id % 2, independent of label), both
    * covering. A filter touching both keys is planned ACROSS them by
    * footer-estimated cardinality; the losing key's conditions apply
    * residually inside the winning arm's partitions.
    */
  private[graft] def parquetMultiIndexStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetMultiIndex", dir) {
      val df = Tables.load(s, dir, "embeddings").select(
        col("vec_id").cast(StringType).as("id"),
        to_json(struct(col("label"),
          when(col("vec_id") % 2 === 1, lit("odd")).otherwise(lit("even"))
            .as("parity"))).as("payload"),
        col("embedding").as("vector"))
      homStore(sealedDir("graft-pq-multiidx", df) { d =>
        ParquetCollectionStore.writePayloadSidecar(df, d, key = "label", kind = "int")
        ParquetCollectionStore.writePayloadSidecar(df, d, key = "parity", kind = "keyword")
      })
    }

  /** The parquet store with a DATETIME payload index: payload carries a
    * derived date string (`2024-01-01 + label*13 days`, 10 distinct
    * values), the sidecar is count-only (id + payload), and datetime
    * range bounds prune its value partitions by PARSED instant — the
    * backend's `datetime` payload index kind served at the store seam.
    */
  private[graft] def parquetDtStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetDtStore", dir) {
      val df = Tables.load(s, dir, "embeddings").select(
        col("vec_id").cast(StringType).as("id"),
        to_json(struct(date_format(
          date_add(lit(java.sql.Date.valueOf("2024-01-01")),
            (col("label") * 13).cast("int")),
          "yyyy-MM-dd").as("ts"))).as("payload"))
      new ParquetCollectionStore(
        sealedDir("graft-pq-dt", df)(
          ParquetCollectionStore.writePayloadSidecar(df, _, key = "ts", kind = "datetime")),
        "embeddings", CollectionDescriptor("embeddings", Seq()))
    }

  /** The parquet store with a GEO payload index: payload carries a
    * derived `{loc: {lat, lon}}` object ([[geoLattice]]), the sidecar
    * partitions by Morton cell (covering), and a geo condition prunes the
    * read to the query region's cover cells — qdrant's `geo` payload
    * index kind at the store seam.
    */
  private[graft] def parquetGeoStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetGeoStore", dir) {
      val df = geoLattice(s, dir)
      // bits sizes cells to the data density: at bits=6 this lattice
      // spreads ~8 rows/cell and a box query opens ~88 tiny files
      // (measured 0.8 s/query); bits=4 packs ~6 cover cells per query —
      // the standard partition-sizing trade, chosen by measurement
      homStore(sealedDir("graft-pq-geo", df)(
        ParquetCollectionStore.writeGeoSidecar(df, _, key = "loc", bits = 4)))
    }

  /** The parquet store with a FLOAT payload index: payload carries a
    * derived double (`label + vec_id % 10 / 16.0` — /16 is exact in
    * binary, so both engines hold identical doubles), and range bounds
    * prune the type-tagged value partitions — the float leg of qdrant's
    * numeric index kinds.
    */
  private[graft] def parquetFloatStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetFloatStore", dir) {
      val score = col("label").cast("double") +
        (col("vec_id") % 10).cast("double") / 16.0
      val df = Tables.load(s, dir, "embeddings").select(
        col("vec_id").cast(StringType).as("id"),
        to_json(struct(score.as("score"))).as("payload"))
      new ParquetCollectionStore(
        sealedDir("graft-pq-float", df)(
          ParquetCollectionStore.writePayloadSidecar(df, _, key = "score", kind = "float")),
        "embeddings", CollectionDescriptor("embeddings", Seq()))
    }

  /** The parquet store with a FULL-TEXT payload index: payload carries a
    * derived body ([[textBodied]]), the `_tidx` sidecar holds (id, token)
    * postings bucketed by token hash, and a match_text condition's
    * candidates come from the token-posting intersection with an
    * id-stats-pruned primary fetch — qdrant's `text` payload index kind
    * at the store seam.
    */
  private[graft] def parquetTextStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetTextStore", dir) {
      val df = textBodied(s, dir)
      homStore(sealedDir("graft-pq-text", df)(
        ParquetCollectionStore.writeTextSidecar(df, _, key = "body")))
    }

  /** The INCREMENTAL-TEXT fixture (the FIFTH maintained family): the
    * text-indexed corpus with a changelog, then the [[Churn]] — inserts
    * tokenize with the writer's own pipeline and land in their buckets,
    * the update's old tokens consolidate out, the delete tombstones, and
    * the LIVE BM25 stats adjust throughout; the fixture REQUIRES the
    * watermark reached the log head, so the gate's match_text candidates
    * resolve from the maintained postings with an EMPTY overlay tail.
    */
  private[graft] def parquetTextFreshStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetTextFresh", dir) {
      val df = textBodied(s, dir)
      val pqDir = sealedDir("graft-pq-textfresh", df, withLog = true)(
        ParquetCollectionStore.writeTextSidecar(df, _, key = "body"))
      val c = textChurn(s, dir)
      val m3 = churned(homStore(pqDir), c)(st =>
        require(st.tidxIncInserts.get() == c.adds.length.toLong,
          "the fresh batch must be absorbed into the token buckets"))
      requireAbsorbed(pqDir, "_tidx", m3.logSize("embeddings"),
        "every mutation must be absorbed — the postings serve with an " +
          "empty overlay tail")
      m3
    }

  private def textChurn(s: SparkSession, dir: String): Churn =
    Churn(s, dir, """{"body":"alpha w3 tagx"}""", """{"body":"alpha w3 tag7"}""")

  /** The geo fixtures' churn: 64 sits INSIDE the gates' box (la 4.25,
    * lo -31.75), so the delete must leave the box's serve, not just the
    * corpus.
    */
  private def geoChurn(s: SparkSession, dir: String): Churn =
    Churn(s, dir, """{"loc":{"lat":5.25,"lon":-15.25}}""",
      """{"loc":{"lat":0.25,"lon":-10.25}}""", deleted = "64")

  /** The INCREMENTAL-GEO fixture (the SIXTH maintained family): the
    * cell-partitioned corpus with a changelog, then the [[Churn]] —
    * inserts land in their Morton cell via the writer's own cell
    * expression, the update's old cell consolidates, the delete
    * tombstones as a (cell, id) flag — so the gate's box query serves
    * cell-pruned over the FINAL state with an EMPTY overlay tail
    * (fixture-required).
    */
  private[graft] def parquetGeoFreshStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetGeoFresh", dir) {
      val df = geoLattice(s, dir)
      val pqDir = sealedDir("graft-pq-geofresh", df, withLog = true)(
        ParquetCollectionStore.writeGeoSidecar(df, _, key = "loc", bits = 4))
      val c = geoChurn(s, dir)
      val m3 = churned(homStore(pqDir), c)(st =>
        require(st.gidxIncInserts.get() == c.adds.length.toLong,
          "the fresh batch must be absorbed into the cell partitions"))
      requireAbsorbed(pqDir, "_gidx", m3.logSize("embeddings"),
        "every mutation must be absorbed — the cells serve with an " +
          "empty overlay tail")
      m3
    }

  /** Build one mutated-after-index dir (the shared recipe of the
    * freshness and optimizer fixtures: the label index seals at ingest
    * head, then [[Churn.mutation]] is applied with NO index rebuild) and
    * return the final store.
    */
  private def buildMutatedStore(s: SparkSession, dir: String,
                                prefix: String): ParquetCollectionStore = {
    val df = homRows(s, dir)
    val pqDir = sealedDir(prefix, df, withLog = true)(
      ParquetCollectionStore.writePayloadSidecar(df, _, key = "label", kind = "int"))
    val (adds, delIds) = Churn.mutation(s, dir)
    homStore(pqDir).appended("embeddings", adds).removed("embeddings", delIds)
  }

  /** The parquet store MUTATED AFTER its payload index was built — the
    * freshness fixture: sidecar-served reads must overlay the log tail to
    * stay exact.
    */
  private[graft] def parquetFreshStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetFreshStore", dir)(buildMutatedStore(s, dir, "graft-pq-fresh"))

  /** The same mutated dir taken through the OPTIMIZER
    * ([[ParquetCollectionStore.optimize]]): the tail is re-absorbed into
    * a rebuilt label index sealed at the current head, and the reopened
    * store serves index-pruned again with an empty overlay — the full
    * qdrant lifecycle (index, mutate, optimize).
    */
  private[graft] def parquetOptimizedStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetOptimized", dir) {
      val pqDir = buildMutatedStore(s, dir, "graft-pq-opt").dir
      ParquetCollectionStore.optimize(s, pqDir)
      homStore(pqDir)
    }

  /** The store-served insertion-order HNSW fixture: the homogeneous
    * corpus (minus the gate's query point) sealed to parquet with the
    * per-segment HNSW sidecar — pushed cosine top-k serves graph-walked
    * from the resident segment graphs, primaries closed.
    */
  private[graft] def parquetHnswStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetHnsw", dir) {
      val df = homRows(s, dir).filter(col("id") =!= "11")
      homStore(sealedDir("graft-pq-hnsw", df)(hnswSidecar(df, _, 4)), hnswEf = 128)
    }

  /** The QUANTIZED-HNSW fixture: the graph sidecar PLUS its int8 codes
    * tier, opened with a rescore margin — the walk touches only the
    * codes cache (8x fewer resident bytes), the exact rescore of the
    * candidate margin recovers the full-precision page, so the same
    * brute oracle pins it (the ivf_quantized argument on the graph
    * family). `hnswEf` past the segment size + candidateK=100 margin
    * over k=10 make the page exact at both SFs.
    */
  private[graft] def parquetHnswQuantStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetHnswQuant", dir) {
      val df = homRows(s, dir).filter(col("id") =!= "17")
      val pqDir = sealedDir("graft-pq-hnswq", df) { d =>
        hnswSidecar(df, d, 4)
        ParquetCollectionStore.writeHnswQuantizedSidecar(df, d)
      }
      new ParquetCollectionStore(pqDir, "embeddings",
        Collections.homogeneousDescriptor, hnswEf = 4096,
        hnswCandidateK = 100)
    }

  /** The hetero rows carrying the ragged multi field (vec_id % 3 = 0;
    * the query id 0 excluded), sealed with the POOLED-key graph sidecar
    * AND its int8 codes tier, plus `sidecars`.
    */
  private def multiVecDir(s: SparkSession, dir: String, prefix: String)(
      sidecars: (DataFrame, String) => Unit): String = {
    val df = Collections.heterogeneous(s, dir)
      .filter(col("multi_embeddings").isNotNull && col("id") =!= "0")
    sealedDir(prefix, df) { d =>
      ParquetCollectionStore.writeMultiHnswSidecar(
        df, d, field = "multi_embeddings",
        multiColumn = "multi_embeddings", m = 8, efConstruction = 64,
        numSegments = 4)
      ParquetCollectionStore.writeMultiHnswQuantizedSidecar(
        df, d, multiColumn = "multi_embeddings")
      sidecars(df, d)
    }
  }

  /** The INDEXED MULTI-VECTOR fixture ([[multiVecDir]]): candidates walk
    * the pooled per-segment graphs over the QUANTIZED keys (1 byte/dim
    * resident, the dense tier's memory win on the corpora that are
    * fattest per point), the exact MaxSim kernel rescores only the margin
    * from the segment partitions. `hnswEf` past the segment size +
    * candidateK=128 over k=10 make the page exact at both SFs vs the
    * brute MaxSim oracle.
    */
  private[graft] def parquetMultiVecIndexStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetMultiVecIndex", dir)(
      new ParquetCollectionStore(
        multiVecDir(s, dir, "graft-pq-multivec")((_, _) => ()), "hetero",
        Collections.heterogeneousDescriptor, hnswEf = 4096,
        hnswCandidateK = 128))

  /** The FILTERED indexed multi-vector fixture: the same pooled-graph +
    * codes-tier store PLUS a label payload index, opened with a small
    * walk width and an exhaustive rescore margin (candidateK past any
    * segment — every matched node becomes a candidate, so BOTH planner
    * arms are exact). At gate scale the matched set sits under the
    * micro-path dial (its 1024 floor) at both SFs, so the gate rides
    * the exact arm; MultiIndexedSpec counter-asserts the accepting-WALK
    * arm (and its quantized variant) at past-the-dial corpus size.
    */
  private[graft] def parquetMultiVecFilteredStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetMultiVecFiltered", dir)(
      new ParquetCollectionStore(
        multiVecDir(s, dir, "graft-pq-multivecf") { (df, d) =>
          ParquetCollectionStore.writePayloadSidecar(
            df.select("id", "payload"), d, key = "label", kind = "int")
        }, "hetero",
        Collections.heterogeneousDescriptor, hnswEf = 16,
        hnswCandidateK = 4096))

  /** The FILTERED-HNSW fixture: the same graph sidecar plus a
    * COUNT-ONLY label index (id+payload only, so the pre-filter arm
    * cannot serve it — `covered` is empty) — filtered searches must go
    * through the graph serve's own planner (exact micro-path or
    * accepting walk). `hnswEf` is sized past the largest segment so the
    * walk is exhaustive over its reachable component and the exact
    * oracle holds at both SFs; ScaleProbe grades recall at honest dials.
    */
  private[graft] def parquetHnswFilteredStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetHnswFiltered", dir) {
      val df = homRows(s, dir).filter(col("id") =!= "11")
      homStore(sealedDir("graft-pq-hnswf", df) { d =>
        hnswSidecar(df, d, 4)
        ParquetCollectionStore.writePayloadSidecar(
          df.select("id", "payload"), d, key = "label", kind = "int")
      }, hnswEf = 2048)
    }

  /** The INCREMENTAL-INSERT HNSW fixture: seal the corpus with the
    * graph sidecar and a changelog, then upsert NEW points — the store
    * absorbs the batch into the per-segment graphs via the sequential
    * insert path (counter-proved: every point graph-inserted, so the
    * freshness overlay is EMPTY and post-upsert serves walk the graphs,
    * never brute-rescore a tail) — the backend's online HNSW insert
    * between optimizes. The rest of the [[Churn]] absorbs too: the
    * update's old node consolidates out and its new vector re-inserts,
    * the delete leaves the graph itself.
    */
  private[graft] def parquetHnswFreshStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetHnswFresh", dir) {
      val df = homRows(s, dir)
      val pqDir = sealedDir("graft-pq-hnswfresh", df, withLog = true)(
        hnswSidecar(df, _, 4))
      val c = Churn.label3(s, dir)
      val m3 = churned(homStore(pqDir, hnswEf = 2048), c)(
        st => require(st.hnswIncInserts.get() == c.adds.length.toLong,
          "the fresh batch must be absorbed into the graphs, not parked " +
            "on the overlay tail"),
        st => require(st.hnswIncInserts.get() == 1L,
          "the update must re-insert into the graph"))
      requireAbsorbed(pqDir, "_hnsw", m3.logSize("embeddings"),
        "every mutation must be absorbed — the graphs serve with an " +
          "empty overlay tail")
      m3
    }

  /** The INCREMENTAL-IVF fixture: seal the corpus with the IVF sidecar
    * and a changelog, then the [[Churn]] — the store absorbs every
    * mutation into the cluster partitions (inserts assign by the probe's
    * own nearest-centroid rule, the update consolidates its old cluster,
    * the delete tombstones), so post-churn serves stay cluster-pruned
    * with an EMPTY overlay tail. Opened at nprobe = nlist so the probed
    * serve is EXACT and the plain brute oracle over the final state pins
    * it.
    */
  private[graft] def parquetIvfFreshStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetIvfFresh", dir) {
      val df = homRows(s, dir)
      val pqDir = sealedDir("graft-pq-ivffresh", df, withLog = true) { d =>
        val idx = Ann.buildIvf(
          df.withColumn("vector",
            col("vector").cast(ArrayType(DoubleType))),
          "id", "vector", nlist = 8, maxIter = 0)
        ParquetCollectionStore.writeIvfSidecar(
          idx.clustered.select("id", "payload", "vector", "cluster"),
          idx.centroids, d, field = "vector")
        idx.clustered.unpersist(): Unit
      }
      val c = Churn.label3(s, dir)
      val m3 = churned(new ParquetCollectionStore(pqDir, "embeddings",
        Collections.homogeneousDescriptor, ivfNprobe = 8), c)(
        st => require(st.ivfIncInserts.get() == c.adds.length.toLong,
          "the fresh batch must be absorbed into the cluster partitions"),
        st => require(st.ivfIncInserts.get() == 1L,
          "the update must re-assign into the cluster partitions"))
      requireAbsorbed(pqDir, "_ivf", m3.logSize("embeddings"),
        "every mutation must be absorbed — the clusters serve with an " +
          "empty overlay tail")
      m3
    }

  /** The INCREMENTAL-PAYLOAD-INDEX fixture: seal the corpus with a
    * COVERING label index and a changelog, then the [[Churn]] — inserts
    * land in their value partition via the writer's own extraction
    * expression, the update moves value partitions (old consolidates
    * out, new appends), the delete tombstones as a (value, id) flag — so
    * the post-churn filtered search serves from the value partitions
    * with an EMPTY overlay tail (the fixture REQUIRES full absorption).
    */
  private[graft] def parquetPidxFreshStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetPidxFresh", dir) {
      val df = homRows(s, dir)
      val pqDir = sealedDir("graft-pq-pidxfresh", df, withLog = true)(
        ParquetCollectionStore.writePayloadSidecar(df, _, key = "label", kind = "int"))
      val c = Churn.label3(s, dir)
      val m3 = churned(homStore(pqDir), c)(st =>
        require(st.pidxIncInserts.get() == c.adds.length.toLong,
          "the fresh batch must land in its value partition"))
      requireAbsorbed(pqDir, "_pidx/k_label", m3.logSize("embeddings"),
        "every mutation must be absorbed — the value partitions serve " +
          "with an empty overlay tail")
      m3
    }

  /** The EUCLID-metric HNSW fixture: the graph is built under euclid
    * (negated-distance preference drives the same walk), the meta
    * records the metric, and the store serves euclid queries from it —
    * the graph family is metric-complete like the IVF family.
    */
  private[graft] def parquetHnswEuclidStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetHnswEuclid", dir) {
      val df = homRows(s, dir).filter(col("id") =!= "11")
      homStore(sealedDir("graft-pq-hnswe", df)(
        hnswSidecar(df, _, 4, metric = "euclid")), hnswEf = 2048)
    }

  // -- sharded and replicated topologies -------------------------------------

  /** `df` split over two rendezvous shards ([[shardOf2]]), each member
    * sealed by `member(shardIndex, ownSlice)`.
    */
  private def twoShards[M](df: DataFrame)(member: (Int, DataFrame) => M): IndexedSeq[M] =
    (0 until 2).map(i => member(i, df.filter(shardOf2(col("id")) === i)))

  /** FILTERED HNSW across the PRODUCTION TOPOLOGY: two rendezvous
    * shards, each a lakehouse member with its OWN per-segment HNSW
    * graphs and count-only label index — one local, one behind a keyed
    * gRPC wire. A filtered search fans out, each member resolves ITS
    * acceptance set from ITS payload index and serves graph-side (the
    * wire member entirely service-side), and the scatter-gather merges
    * the ≤ k pages — qdrant's per-shard filtrable-HNSW shape end to end.
    */
  private[graft] def shardedHnswStore(s: SparkSession, dir: String): ShardedCollectionStore =
    memo("shardedHnsw", dir) {
      val members = twoShards(homRows(s, dir).filter(col("id") =!= "11")) { (i, own) =>
        homStore(sealedDir(s"graft-pq-shhnsw$i", own) { d =>
          hnswSidecar(own, d, 2)
          ParquetCollectionStore.writePayloadSidecar(
            own.select("id", "payload"), d, key = "label", kind = "int")
        }, hnswEf = 2048)
      }
      val msrv = serve(backendOf("grpc_shhnsw_member", dir), grpc = true,
        store = Some(members(1)), apiKey = Some(ShardedWireKey))
      new ShardedCollectionStore(IndexedSeq(members(0),
        new GrpcCollectionStore(msrv.host, msrv.port,
          apiKey = Some(ShardedWireKey))))
    }

  /** The sharded LIFECYCLE fixture: the homogeneous corpus rendezvous-
    * sharded over TWO log-enabled parquet members, each with its own
    * label index sealed at ingest; then [[Churn.mutation]] routed
    * THROUGH the wrapper; then one
    * [[ShardedCollectionStore.optimizeMembers]] call re-absorbing every
    * member's tail — the full qdrant lifecycle (index, mutate, optimize)
    * closed cluster-wide in one call. With `wireMember`, member 1 is the
    * same layout BEHIND a binary server: its service owns its COW
    * batches, and optimizeMembers() reseals member 0 locally and ships
    * the optimize verb to member 1's service — the cluster-wide
    * freshness loop with a remote node in the mix.
    */
  private def shardedOptimized(s: SparkSession, dir: String,
                               wireMember: Boolean): ShardedCollectionStore = {
    val members: IndexedSeq[CollectionStore] = twoShards(homRows(s, dir)) { (i, own) =>
      val pq = homStore(sealedDir(
        if (wireMember) s"graft-pq-shoptw$i" else s"graft-pq-shopt$i",
        own, withLog = true)(
        ParquetCollectionStore.writePayloadSidecar(own, _, key = "label", kind = "int")))
      if (i == 0 || !wireMember) pq
      else {
        val msrv = serve(backendOf("grpc_shoptw_member", dir), grpc = true,
          store = Some(pq))
        new GrpcCollectionStore(msrv.host, msrv.port)
      }
    }
    val sh = new ShardedCollectionStore(members)
    val (adds, delIds) = Churn.mutation(s, dir)
    sh.upsertPoints("embeddings", adds)
    sh.deletePoints("embeddings", delIds)
    sh.optimizeMembers(s)
    sh
  }

  private[graft] def shardedOptimizedStore(s: SparkSession, dir: String): ShardedCollectionStore =
    memo("shardedOptimized", dir)(shardedOptimized(s, dir, wireMember = false))

  private[graft] def shardedOptimizedWireStore(s: SparkSession, dir: String): ShardedCollectionStore =
    memo("shardedOptimized", s"$dir#wire")(shardedOptimized(s, dir, wireMember = true))

  /** The SHARDED storage-snapshot fixture: two rendezvous shards, each
    * a log-enabled lakehouse member with its OWN per-segment HNSW
    * graphs, then the [[Churn]] routed THROUGH the wrapper so every
    * member absorbs its slice online. The gate snapshots this
    * member-by-member ([[graft.collections.Snapshot.createStorage]]'s
    * sharded arm — the backend's per-shard snapshot semantics, the
    * reference's tests/bin/config.yaml:24-37,198), restores the
    * re-wrapped topology, and the FIRST search must be graph-served
    * over the churned state (SnapshotTopologySpec counter-asserts
    * primaries-closed on every restored member).
    */
  private[graft] def shardedSnapStore(s: SparkSession, dir: String): ShardedCollectionStore =
    memo("shardedSnap", dir) {
      val sh = new ShardedCollectionStore(twoShards(homRows(s, dir)) { (i, own) =>
        homStore(sealedDir(s"graft-pq-shsnap$i", own, withLog = true)(
          hnswSidecar(own, _, 2)), hnswEf = 2048)
      })
      Churn.label3(s, dir).sendBatched(sh)
      sh
    }

  /** One member of the mixed-transport wire topologies: `own` sealed
    * log-enabled with per-segment HNSW graphs, served behind the JSON
    * wire (member 0) or the binary wire (member 1), returned as its
    * client.
    */
  private def wireMember(dir: String, name: String, i: Int,
                         own: DataFrame): CollectionStore = {
    val pqDir = sealedDir(s"graft-pq-$name$i", own, withLog = true)(
      hnswSidecar(own, _, 2))
    val srv = serve(backendOf(s"rest_$name$i", dir), grpc = i == 1,
      store = Some(homStore(pqDir, hnswEf = 2048)))
    if (i == 0) new RestCollectionStore(srv.baseUrl)
    else new GrpcCollectionStore(srv.host, srv.port)
  }

  /** The SHARDED-OF-WIRE cluster-snapshot fixture: two rendezvous
    * shards, each a REST service fronting a lakehouse member with its
    * own per-segment HNSW graphs + changelog, the [[Churn]] routed
    * through the wrapper (every member absorbs its slice SERVICE-side).
    * A MIXED cluster: shard 0 behind the JSON wire, shard 1 behind the
    * binary wire — the verbs must fan across BOTH transports. The gate
    * then fans the per-node storage-snapshot and recover verbs
    * ([[graft.collections.Snapshot.createStorageCluster]]/
    * [[graft.collections.Snapshot.recoverStorageCluster]]) — archives
    * stay node-side, every member service swaps to its recovered store,
    * the wrapper keeps serving through the same clients: the backend's
    * member-by-member cluster recovery end to end.
    */
  private[graft] def shardedWireSnapStore(s: SparkSession, dir: String): ShardedCollectionStore =
    memo("shardedWireSnap", dir) {
      val sh = new ShardedCollectionStore(twoShards(homRows(s, dir))(
        wireMember(dir, "shwire", _, _)))
      Churn.label3(s, dir).sendBatched(sh)
      sh
    }

  /** The REPLICATED-of-wire cluster-snapshot fixture: an HA pair of
    * full-corpus members behind MIXED transports (replica 0 JSON wire,
    * replica 1 binary wire), churned through the wrapper's write-all —
    * the topology the one-archive reseed rule snapshots (replicas are
    * interchangeable copies, so ONE member archives node-side and that
    * archive reseeds every member service at recover).
    */
  private[graft] def replicatedWireSnapStore(s: SparkSession, dir: String): ReplicatedCollectionStore =
    memo("replicatedWireSnap", dir) {
      val df = homRows(s, dir)
      val rep = new ReplicatedCollectionStore(
        (0 until 2).map(wireMember(dir, "repwire", _, df)))
      Churn.label3(s, dir).sendBatched(rep)
      rep
    }

  /** A log-enabled parquet store of `dir`'s homogeneous collection:
    * primaries + the [[graft.sources.ParquetLog]] changelog sidecar
    * sealing the ingest. The memoized form backs read-only gates
    * (streaming read, pipeline source); mutation gates take a FRESH dir
    * per invocation via [[freshParquetLogStore]] so re-runs replay the
    * same history.
    */
  private[graft] def freshParquetLogStore(s: SparkSession, dir: String): ParquetCollectionStore =
    homStore(sealedDir("graft-pq-log", homRows(s, dir), withLog = true)())

  private[graft] def parquetLogStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetLogStore", dir)(freshParquetLogStore(s, dir))

  /** The HETEROGENEOUS collection sealed to the lakehouse layout (all
    * three vector kinds + disjoint-subset NULLs), built once per dir.
    */
  private[graft] def parquetHeteroStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetHeteroStore", dir)(heteroStore(
      sealedDir("graft-pq-hetero", Collections.heterogeneous(s, dir))()))

  private def heteroStore(pqDir: String, ivfNprobe: Int = 0): ParquetCollectionStore =
    new ParquetCollectionStore(pqDir, "hetero",
      Collections.heterogeneousDescriptor, ivfNprobe = ivfNprobe)

  /** The heterogeneous store with an IVF sidecar on the NAMED
    * `text_embedding` field: the fit runs over the rows that HAVE the
    * field (vec_id % 3 in {0, 1} — named collections populate fields on
    * subsets by design), the cluster partitions carry exactly those
    * rows, and a pushed top-k on the field serves probe-pruned. Rows
    * without the field can never match that search, so the subset index
    * is complete.
    */
  private[graft] def parquetHeteroIvfStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetHeteroStore", s"$dir#hivf") {
      val het = Collections.heterogeneous(s, dir)
      heteroStore(sealedDir("graft-pq-hetero-ivf", het) { d =>
        val sub = het.filter(col("text_embedding").isNotNull)
          .select(col("id"), col("payload"),
            dvec(col("text_embedding")).as("text_embedding"))
        val idx = memo("ivf", s"$dir#hetero")(
          Ann.buildIvf(sub, "id", "text_embedding", nlist = 8, maxIter = 0))
        ParquetCollectionStore.writeIvfSidecar(
          idx.clustered.select("id", "payload", "text_embedding", "cluster"),
          idx.centroids, d, field = "text_embedding",
          vectorColumn = "text_embedding")
      }, ivfNprobe = 2)
    }

  /** The heterogeneous collection minus the query point, sealed cold —
    * the pushed NAMED-FIELD search fixture (the oracle excludes vec 0
    * before ranking, so the fixture does too).
    */
  private[graft] def parquetHeteroSearchStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetHeteroStore", s"$dir#hs")(heteroStore(sealedDir("graft-pq-hetero-hs",
      Collections.heterogeneous(s, dir).filter(col("id") =!= "0"))()))

  /** The embeddings corpus re-expressed as the two-column sparse layout
    * (`kw_indices`/`kw_values` from the positive embedding components).
    */
  private def sparseRows(s: SparkSession, dir: String): DataFrame = {
    val (ki, kv) = sparseOf(col("embedding"))
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id").cast(StringType).as("id"),
        lit(null).cast(StringType).as("payload"),
        ki.as("kw_indices"),
        kv.cast(ArrayType(FloatType)).as("kw_values"))
  }

  private def sparseStore(pqDir: String): ParquetCollectionStore =
    new ParquetCollectionStore(pqDir, "embeddings",
      CollectionDescriptor("embeddings", Seq(SparseField("kw"))))

  /** The SPARSE lakehouse collection of `dir` ([[sparseRows]], minus the
    * query point, the oracle's exclusion), sealed to parquet WITH the
    * dim-bucketed postings sidecar — pushed sparse top-k serves from
    * pruned buckets, the primaries only feed the winners' fetch.
    */
  private[graft] def parquetSparseStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetSparseStore", dir) {
      val df = sparseRows(s, dir).filter(col("id") =!= "0")
      sparseStore(sealedDir("graft-pq-sparse", df)(
        ParquetCollectionStore.writeSparseSidecar(df, _, "kw", nBuckets = 16)))
    }

  /** The INCREMENTAL-SPARSE fixture: the kw postings sidecar sealed
    * with a changelog, then churned — inserts land in their dim
    * buckets, the update consolidates its old dims' buckets, the delete
    * tombstones `id → dims` — so the post-churn sparse search serves
    * bucket-pruned with an EMPTY overlay tail (REQUIRED absorbed). The
    * [[Churn]]'s update and delete ids, over sparse points: ids 1..4
    * insert as 100000 + id (0 is the query point).
    */
  private[graft] def parquetSparseFreshStore(s: SparkSession, dir: String): ParquetCollectionStore =
    memo("parquetSparseFresh", dir) {
      val src = sparseRows(s, dir)
      val df = src.filter(col("id") =!= "0")
      val pqDir = sealedDir("graft-pq-spfreshinc", df, withLog = true)(
        ParquetCollectionStore.writeSparseSidecar(df, _, "kw", nBuckets = 16))
      def sparsePt(rowId: String, asId: String): Point = {
        val r = src.filter(col("id") === rowId)
          .select(col("kw_indices"), col("kw_values")).head()
        Point(asId, None, sparse = Map("kw" ->
          ((r.getSeq[Int](0).toArray, r.getSeq[Float](1).toArray))))
      }
      val c = Churn((1 to 4).map(i => sparsePt(i.toString, s"${i + 100000}")),
        sparsePt(Churn.UpdateSource.toString, Churn.UpdatedId),
        Set(Churn.DeletedId))
      val m3 = churned(sparseStore(pqDir), c)(st =>
        require(st.sparseIncInserts.get() == c.adds.length.toLong,
          "the fresh batch must land in its dim buckets"))
      requireAbsorbed(pqDir, "_sparse", m3.logSize("embeddings"),
        "every mutation must be absorbed — the buckets serve with an " +
          "empty overlay tail")
      m3
    }

  // -- wire fixtures ----------------------------------------------------------

  /** The homogeneous collection as an in-memory store. */
  private[graft] def homMemStore(s: SparkSession, dir: String): InMemoryCollectionStore =
    InMemoryCollectionStore.fromRows(homRows(s, dir), "embeddings",
      Collections.homogeneousDescriptor)

  /** The wire-protocol fixture of `dir`: an in-process
    * [[CollectionHttpServer]] fronting the homogeneous collection,
    * started once per dir (the offline stand-in for a live backend node
    * — what a production deployment keeps is the CLIENT,
    * [[RestCollectionStore]], which carries only this URL).
    */
  private[graft] def restBackedUrl(s: SparkSession, dir: String): String =
    memo("rest", dir)(serve(backendOf("rest_backend", dir),
      store = Some(homMemStore(s, dir))).baseUrl)

  /** A wire-maintained fixture: `df` sealed log-enabled with `sidecars`,
    * served over REST or gRPC, the [[Churn]] sent through the client
    * (every remote upsert/delete commits through the store's own
    * appended()/removed() — the service owns the RMW), then `check`
    * runs against the client before the gate serves.
    */
  private def wireChurned(s: SparkSession, dir: String, name: String,
                          grpc: Boolean, df: DataFrame, churn: Churn,
                          hnswEf: Int = 0)(sidecars: String => Unit)(
      check: (String, WireCollectionClient) => Unit): Served = {
    val wire = if (grpc) "grpc" else "rest"
    val pqDir = sealedDir(s"graft-$wire-$name", df, withLog = true)(sidecars)
    val srv = serve(backendOf(s"${wire}_$name", dir), grpc = grpc,
      store = Some(homStore(pqDir, hnswEf = hnswEf)))
    val client: WireCollectionClient =
      if (grpc) new GrpcCollectionStore(srv.host, srv.port)
      else new RestCollectionStore(srv.baseUrl)
    churn.sendTo(client)
    check(pqDir, client)
    srv
  }

  /** The WIRE-SERVED ONLINE-MAINTENANCE fixture: the hnsw_fresh churn
    * driven ENTIRELY through the REST client against a service fronting
    * a lakehouse store with the graph sidecar + changelog — the
    * mutations absorb into the SERVICE-SIDE per-segment graphs exactly
    * like the in-process fixture's; the fixture REQUIRES the watermark
    * reached the log head before the gate serves. Proves the four
    * maintained families' discipline holds through the wire seam, not
    * just in-process.
    */
  private[graft] def restHnswFreshUrl(s: SparkSession, dir: String): String =
    memo("rest", s"$dir#hnswfresh") {
      val df = homRows(s, dir)
      wireChurned(s, dir, "hnswfresh", grpc = false, df, Churn.label3(s, dir),
        hnswEf = 2048)(hnswSidecar(df, _, 4)) { (pqDir, client) =>
        requireAbsorbed(pqDir, "_hnsw", client.logSize("embeddings"),
          "remote mutations must absorb into the service-side graphs — " +
            "the wire seam broke the maintenance discipline")
      }.baseUrl
    }

  /** The text_fresh churn driven entirely through a REST or gRPC client
    * — remote upserts tokenize service-side and land in their buckets,
    * the update's old tokens consolidate out, the delete tombstones, and
    * the LIVE BM25 stats (`_tidx/stats.txt`) track the churn — both
    * REQUIREd before the gate serves, so remote mutation provably cannot
    * leave the text sidecar stale on either transport.
    */
  private def wireTextFresh(s: SparkSession, dir: String, grpc: Boolean): Served = {
    val df = textBodied(s, dir)
    val wire = if (grpc) "the binary wire" else "the wire seam"
    wireChurned(s, dir, "textfresh", grpc, df, textChurn(s, dir))(
      ParquetCollectionStore.writeTextSidecar(df, _, key = "body")) { (pqDir, client) =>
      requireAbsorbed(pqDir, "_tidx", client.logSize("embeddings"),
        "remote mutations must absorb into the service-side postings — " +
          s"$wire broke the text maintenance discipline")
      val stats = ParquetCollectionStore.readTextStats(
        new java.io.File(s"$pqDir/_tidx/stats.txt"))
      require(stats.exists(_._1 == client.pointCount("embeddings")),
        s"live BM25 stats must track remote churn service-side, got " +
          s"$stats vs n=${client.pointCount("embeddings")}")
    }
  }

  /** The geo_fresh churn driven entirely through a REST or gRPC client
    * — remote inserts land in their Morton cells via the writer's own
    * cell expression service-side, the update's old cell consolidates,
    * the in-box delete tombstones with its cell recorded; the watermark
    * must reach the log head before the gate serves. With both
    * transports all six families maintain through every wire seam.
    */
  private def wireGeoFresh(s: SparkSession, dir: String, grpc: Boolean): Served = {
    val df = geoLattice(s, dir)
    val wire = if (grpc) "the binary wire" else "the wire seam"
    wireChurned(s, dir, "geofresh", grpc, df, geoChurn(s, dir))(
      ParquetCollectionStore.writeGeoSidecar(df, _, key = "loc", bits = 4)) { (pqDir, client) =>
      requireAbsorbed(pqDir, "_gidx", client.logSize("embeddings"),
        "remote mutations must absorb into the service-side cells — " +
          s"$wire broke the geo maintenance discipline")
    }
  }

  private[graft] def restTextFreshUrl(s: SparkSession, dir: String): String =
    memo("rest", s"$dir#textfresh")(wireTextFresh(s, dir, grpc = false).baseUrl)

  private[graft] def restGeoFreshUrl(s: SparkSession, dir: String): String =
    memo("rest", s"$dir#geofresh")(wireGeoFresh(s, dir, grpc = false).baseUrl)

  private[graft] def grpcTextFreshAddr(s: SparkSession, dir: String): (String, Int) =
    memo("grpc", s"$dir#textfresh")(wireTextFresh(s, dir, grpc = true).addr)

  private[graft] def grpcGeoFreshAddr(s: SparkSession, dir: String): (String, Int) =
    memo("grpc", s"$dir#geofresh")(wireGeoFresh(s, dir, grpc = true).addr)

  /** The WIRE STORAGE-SNAPSHOT fixture: the hnsw_fresh churn driven
    * through the REST client, then the client triggers a SERVICE-side
    * storage snapshot (whole store tree, index included — the archive
    * never crosses the wire, the backend's per-node snapshot form) and
    * a RECOVER that restores the archive under a fresh service dir and
    * swaps the service's backing store. The gate then searches through
    * the same client: the RECOVERED store must serve graph-walked over
    * the churned state — snapshot, recover, and the wire seam all
    * invisible at once.
    */
  private[graft] def restStorageSnapUrl(s: SparkSession, dir: String): String =
    memo("rest", s"$dir#storagesnap") {
      val df = homRows(s, dir)
      wireChurned(s, dir, "snapsrc", grpc = false, df, Churn.label3(s, dir),
        hnswEf = 2048)(hnswSidecar(df, _, 4)) { (_, client) =>
        // snapshot + recover, both verbs over the wire; the archive and
        // the recovered dir are service-side paths
        val arch = tempDir("graft-rest-snaparch")
        client.snapshotStorage("embeddings", arch)
        client.recoverStorageSnapshot("embeddings", arch,
          tempDir("graft-rest-snapdst"), hnswEf = 2048)
      }.baseUrl
    }

  /** Shared secret of the KEYED wire fixtures — the auth scheme the
    * reference's client uses against its backend (api-key, the
    * reference's src/test_utils.rs:31,119-128).
    */
  private[graft] val WireApiKey = "graft-test-api-key"

  /** [[restBackedUrl]]'s keyed twin: the same collection behind a server
    * that REFUSES unkeyed requests (401) — the gate reads through a
    * keyed client; the reject path is pinned in RestCollectionStoreSpec.
    */
  private[graft] def restAuthUrl(s: SparkSession, dir: String): String =
    memo("rest", s"$dir#auth")(serve(backendOf("rest_auth_backend", dir),
      store = Some(homMemStore(s, dir)), apiKey = Some(WireApiKey)).baseUrl)

  /** The BINARY-transport fixture of `dir`: a framed-protobuf
    * [[CollectionGrpcServer]] fronting the homogeneous collection — the
    * transport twin of [[restBackedUrl]], matching the transport the
    * reference's client actually speaks (gRPC via qdrant-client, the
    * reference's src/table.rs:133). What a production deployment keeps is
    * the CLIENT, [[GrpcCollectionStore]], which carries only (host, port).
    */
  private[graft] def grpcBackedAddr(s: SparkSession, dir: String): (String, Int) =
    memo("grpc", dir)(serve(backendOf("grpc_backend", dir), grpc = true,
      store = Some(homMemStore(s, dir))).addr)

  /** The shared secret of the KEYED sharded wire topology (fixture
    * constant — a deployment injects its own).
    */
  private[graft] val ShardedWireKey = "graft-sharded-wire-key"

  /** KEYED binary server fronting a SHARDED store whose members are
    * themselves KEYED wire clients dialing keyed member servers — the
    * full production topology, authenticated at BOTH seams: connector
    * -> keyed wire -> scatter-gather -> keyed wires -> member nodes,
    * behind one address. Every hop carries the api-key frame and every
    * server verifies it constant-time before routing.
    */
  private[graft] def grpcShardedAddr(s: SparkSession, dir: String): (String, Int) =
    memo("grpc", s"$dir#sharded") {
      val hex = Integer.toHexString(dir.hashCode)
      val frame = homRows(s, dir)
      val memberClients = (0 until 3).map { i =>
        val msrv = serve(s"grpc_sh_member${i}_$hex", grpc = true,
          store = Some(InMemoryCollectionStore.fromRows(
            frame.filter(shardOf3(col("id")) === i),
            "embeddings", Collections.homogeneousDescriptor)),
          apiKey = Some(ShardedWireKey))
        new GrpcCollectionStore(msrv.host, msrv.port,
          apiKey = Some(ShardedWireKey))
      }
      serve(s"grpc_sh_backend_$hex", grpc = true,
        store = Some(new ShardedCollectionStore(memberClients)),
        apiKey = Some(ShardedWireKey)).addr
    }

  /** Binary server fronting the TEXT-SIDECAR'd documents store: the
    * ranked full-text serve behind the wire — postings read service-side,
    * only the k hits cross.
    */
  private[graft] def grpcTextRankAddr(s: SparkSession, dir: String): (String, Int) =
    memo("grpc", s"$dir#textrank")(serve(backendOf("grpc_tr_backend", dir),
      grpc = true, store = Some(parquetTextRankStore(s, dir))).addr)

  /** Binary server fronting the MUTATED lakehouse dir, then the
    * OPTIMIZE VERB sent over the wire: the service reseals its sidecars
    * at its own log head (zero data crosses — one verb frame), and the
    * fixture serves index-pruned afterwards exactly like the local
    * optimizer gate — the freshness loop closed REMOTELY.
    */
  private[graft] def grpcOptimizedAddr(s: SparkSession, dir: String): (String, Int) =
    memo("grpc", s"$dir#opt") {
      val srv = serve(backendOf("grpc_opt_backend", dir), grpc = true,
        store = Some(buildMutatedStore(s, dir, "graft-pq-grpcopt")))
      new GrpcCollectionStore(srv.host, srv.port).optimize()
      srv.addr
    }

  /** The reshard gate's remote grow node: ONE binary server fronting
    * registry name `sharded_reshard_node` — each gate invocation
    * re-registers an EMPTY store there (the server resolves by name per
    * request), so re-runs reshard onto a fresh node.
    */
  private lazy val reshardNodeServer: Served =
    serve("sharded_reshard_node", grpc = true)

  private[graft] def reshardNodeAddr(): (String, Int) = reshardNodeServer.addr

  /** JSON server fronting the lakehouse collection for the SERVICE-SIDE
    * snapshot verb — the backend's create-snapshot API over the wire.
    */
  private[graft] def restSnapshotUrl(s: SparkSession, dir: String): String =
    memo("rest", s"$dir#snap")(serve(backendOf("rest_snap_backend", dir),
      store = Some(parquetBackedStore(s, dir))).baseUrl)

  /** One JSON-transport server fronting the LAKEHOUSE backend (registry
    * name `rest_lake_backend`) — the transport twin of
    * [[grpcLakeServer]].
    */
  private[graft] lazy val restLakeUrl: String = serve("rest_lake_backend").baseUrl

  /** One binary-transport server fronting the LAKEHOUSE backend
    * (registry name `grpc_lake_backend` — gates register the parquet
    * store there before dialing): remote node over cold storage, the
    * production deployment shape.
    */
  private[graft] lazy val grpcLakeServer: Served =
    serve("grpc_lake_backend", grpc = true)

  /** One binary-transport server fronting the WRITABLE lakehouse backend
    * (registry name `grpc_lakew_backend`): gates register a fresh empty
    * log-enabled parquet store there per invocation.
    */
  private[graft] lazy val grpcLakeWriteServer: Served =
    serve("grpc_lakew_backend", grpc = true)

  /** One binary-transport server fronting the writable remote collection
    * (registry name `grpc_write_backend`): gates reset the backend per
    * invocation, the server resolves the store by name per request.
    */
  private[graft] lazy val grpcWriteAddr: (String, Int) =
    serve("grpc_write_backend", grpc = true).addr

  /** One registered store holding BOTH generations of the homogeneous
    * collection (`embeddings` and the reindexed `embeddings_v2`) — the
    * alias-swap fixture: built once per dir, the gate only flips the
    * alias (the zero-downtime production move the alias API exists for).
    */
  private[graft] def aliasStoreOf(s: SparkSession, dir: String): String =
    memo("aliasStore", dir) {
      val d1 = Collections.homogeneousDescriptor.copy(name = "embeddings")
      val d2 = Collections.homogeneousDescriptor.copy(name = "embeddings_v2")
      val v2 = hom(s, dir).select(col("id"),
        concat(lit("""{"v":2,"orig":"""), col("payload"), lit("}")).as("payload"),
        col("vector"))
      def pts(df: DataFrame, coll: String, d: CollectionDescriptor) = {
        val st = InMemoryCollectionStore.fromRows(df, coll, d)
        st.queryPoints(coll, 0L, st.pointCount(coll),
          withPayload = true, Seq("vector"), None).toIndexedSeq
      }
      val name = backendOf("alias_store", dir)
      CollectionStores.register(name, new InMemoryCollectionStore(
        Map("embeddings" -> d1, "embeddings_v2" -> d2),
        Map("embeddings" -> pts(homRows(s, dir), "embeddings", d1),
          "embeddings_v2" -> pts(v2, "embeddings_v2", d2))))
      name
    }

  /** One server fronting the WRITABLE remote collection (registry name
    * `rest_write_backend`): gates reset the backend to an empty
    * collection per invocation — the server resolves the store by name
    * per request, so the swap is immediately visible.
    */
  private[graft] lazy val restWriteUrl: String = serve("rest_write_backend").baseUrl

  /** One server fronting the remote-DDL backend (registry name
    * `rest_ddl_backend`): gates reset the backend per invocation so
    * CREATE TABLE is re-runnable.
    */
  private[graft] lazy val restDdlUrl: String = serve("rest_ddl_backend").baseUrl

  /** Trained BPE model of `dir`'s documents (8 merges): training is the
    * offline batch job, built once per dir; both bpe gates consume the
    * one artifact (the merge table is the MODEL a tokenizer ships).
    */
  private[graft] def bpeModel(s: SparkSession, dir: String): (Seq[graft.ops.Bpe.Merge], DataFrame) =
    memo("bpe", dir)(
      graft.ops.Bpe.trainMerges(docs(s, dir), "text", numMerges = 8))

  /** Trained NB classifier of `dir`'s lang-labeled documents — fitting
    * is the offline batch job (one corpus pass; counts localCheckpoint
    * as model state), classification is the serving path the gate
    * measures.
    */
  private[graft] def nbModel(s: SparkSession, dir: String): graft.ops.Classify.NbModel =
    memo("nb", dir)(
      graft.ops.Classify.train(docs(s, dir), "text", "lang", buckets = 512))

  /** Stored geo-cell layout of the events-derived (lat, lon) points —
    * the geo payload index ([[graft.ops.Geo.writeCellLayout]], bits=4):
    * box queries partition-prune to their cover cells. Written once per
    * dir at ingest, like every stored index here.
    */
  private[graft] def geoStore(s: SparkSession, dir: String): DataFrame =
    memo("geoStore", dir) {
      val pts = Tables.load(s, dir, "events").select(col("event_id"),
        col("user_id").cast(DoubleType).as("lat"),
        (col("event_id") % 180).cast(DoubleType).as("lon"))
      val path = tempDir("graft-geo-cells")
      graft.ops.Geo.writeCellLayout(pts, "lat", "lon", bits = 4, path)
      graft.ops.Geo.readCellLayout(s, path)
    }

  /** Corpus-calibrated (quantile-clipped) int8 artifacts of `dir`: the
    * two-double calibration + stored (codes, csum) — the backend's
    * scalar quantization with `quantile: 0.99`, quantized once at
    * ingest like [[storedCodes]].
    */
  private[graft] def calibratedStore(s: SparkSession, dir: String): (graft.ops.Quant.I8Calibration, DataFrame) =
    memo("calib", dir) {
      val cal = graft.ops.Quant.calibrate(homD(s, dir), "vector", quantile = 0.99)
      val codes = graft.ops.Quant.quantizeColumnCalibrated(
          homD(s, dir).select("id", "vector"), "vector", "cal", cal)
        .select("id", "cal_codes", "cal_csum")
        .localCheckpoint()
      (cal, codes)
    }

  /** Materialized supplier<->part edge model of `dir` (checkpointed
    * adjacency, node set, degrees) — built once per dir like the stored
    * IVF layouts; the graph gates share it the way production graph
    * queries share a stored adjacency table.
    */
  private[graft] def edgeModel(s: SparkSession, dir: String): graft.ops.Graph.EdgeModel =
    memo("edgeModel", dir)(
      graft.ops.Graph.materialize(graft.ops.Graph.undirectedEdges(
        Tables.load(s, dir, "lineitem"), "l_suppkey", "l_partkey", 1000000L)))

  /** Stored int8 codes for the FULL homogeneous corpus of `dir`,
    * quantized ONCE (the ingest step of the quantize-at-ingest pipeline;
    * in production this frame is the parquet codes table). localCheckpoint
    * materializes it so the serving path reads codes, not the
    * full-precision column. Like every memo holding checkpointed blocks, it
    * belongs to the session that built it.
    */
  private[graft] def storedCodes(s: SparkSession, dir: String): DataFrame =
    memo("quant", dir)(
      graft.ops.Quant.quantizeColumn(
          hom(s, dir).select("id", "vector"), "vector", "v8")
        .select("id", "v8_codes", "v8_scale")
        .localCheckpoint())

  /** Stored binary-quantization bits (the 1-bit tier below [[storedCodes]]):
    * (id, v1_bits) with sign bits packed ONCE at ingest — the candidate
    * stage of [[graft.ops.Quant.searchStoredBits]] scans only this frame.
    */
  private[graft] def storedBits(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#bq")(
      graft.ops.Quant.packSignColumn(
          hom(s, dir).select("id", "vector"), "vector", "v1")
        .select("id", "v1_bits")
        .localCheckpoint())

  /** IVF-partitioned sign bits: the `#probe` index's clusters carrying
    * 1-bit rows, written partitionBy(cluster) — a query reads
    * nprobe/nlist of the files AND each row is 1/32 width.
    */
  private[graft] def ivfBqBits(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#ivfbq") {
      val (_, stored, _) = ivfStored(s, dir)
      val path = tempDir("graft-ivfbq-bits")
      graft.ops.Quant.packSignColumn(stored, "vector", "v1")
        .select("id", "v1_bits", "cluster")
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
      s.read.parquet(path)
    }

  /** Stored Matryoshka prefix (first 16 dims) for the corpus of `dir` —
    * the MRL serving artifact: the candidate stage reads 1/4 of the
    * vector bytes.
    */
  private[graft] def storedPrefix(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#mrl")(
      hom(s, dir).select(col("id"),
        slice(col("vector"), 1, 16).as("v16"))
        .localCheckpoint())

  /** Multitenant layout for the corpus of `dir`: the collection written
    * `partitionBy(tenant)` ONCE (tenant = "t" + payload label — prefixed
    * so partition-value inference keeps the column a string), read back
    * so tenant predicates prune statically ([[graft.ops.Tenant]]).
    */
  private[graft] def tenantStore(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#tenant") {
      val path = tempDir("graft-tenant")
      graft.ops.Tenant.writeLayout(
        hom(s, dir).select(col("id"), col("vector"),
          concat(lit("t"), json_get_int(col("payload"), "label")).as("tenant")),
        "tenant", path)
      graft.ops.Tenant.readLayout(s, path)
    }

  /** Stored LSH signatures for the corpus of `dir`: (id, vector, bucket)
    * with the 16-bit hyperplane signature computed ONCE at ingest — the
    * LSH analog of [[storedCodes]] (in production this is a signature
    * column in the corpus table, bucketed by band key). The serving path
    * ([[graft.ops.Ann.searchLshStored]]) then never evaluates a
    * hyperplane dot product over the corpus.
    */
  private[graft] def storedLshSignatures(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#lsh") {
      val corpus = hom(s, dir).select(col("id"), col("vector"))
      val dim = corpus.select(size(col("vector"))).head().getInt(0)
      graft.ops.Ann.lshBuckets(corpus, "vector", dim, nbits = 16)
        .localCheckpoint()
    }

  /** Stored k-NN graph adjacency of `dir`'s collection (top-8 LSH-proposed
    * neighbors per node by exact cosine) — the graph-ANN serving artifact,
    * built once per dir like the IVF layouts.
    */
  private[graft] def knnGraph(s: SparkSession, dir: String): DataFrame =
    memo("knnGraph", dir)(
      graft.ops.Ann.buildKnnGraph(
        storedLshSignatures(s, dir).select("id", "vector"), "id", "vector",
        dim = 64, m = 8).localCheckpoint())

  /** The NN-DESCENT-refined adjacency (one neighbors-of-neighbors round
    * over [[knnGraph]]'s LSH seed): recovers edges band collisions never
    * proposed, lifting the graph arm's recall ceiling at the same serve
    * cost. Built once per dir like the seed.
    */
  private[graft] def knnDescentGraph(s: SparkSession, dir: String): DataFrame =
    memo("knnGraph", s"$dir#descent")(
      graft.ops.Ann.nnDescent(knnGraph(s, dir),
        storedLshSignatures(s, dir).select("id", "vector"), "id", "vector",
        m = 8, rounds = 1).localCheckpoint())

  /** The insertion-order per-segment HNSW edge table of `dir`'s
    * collection minus the gate's query point — built once per dir
    * (offline, like IVF/NB models; the gate measures the serve).
    */
  private[graft] def hnswInsertEdges(s: SparkSession, dir: String): DataFrame =
    memo("knnGraph", s"$dir#hnswinsert")(
      graft.ops.Ann.buildHnsw(
        homD(s, dir).select("id", "vector").filter(col("id") =!= "7"),
        "id", "vector", m = 8, efConstruction = 64,
        numSegments = 4).localCheckpoint())

  /** The HNSW-style sampled upper layer of `dir`'s collection (256 seeded
    * ids) and its exact top-4 adjacency (model-sized layer: all-pairs is
    * the right build there — a corpus-layer uses the banded builder) — the greedy-entry artifacts,
    * built once per dir like the base graph.
    */
  private[graft] def hnswSample(s: SparkSession, dir: String): DataFrame =
    memo("knnGraph", s"$dir#hnswsample")(
      graft.ops.Ann.entryLayer(hom(s, dir).select(col("id"), col("vector")),
        "id", "vector", sampleN = 256).localCheckpoint())

  private[graft] def hnswUpperAdj(s: SparkSession, dir: String): DataFrame =
    memo("knnGraph", s"$dir#hnswupper")(
      graft.ops.Ann.exactKnnGraph(hnswSample(s, dir), "id", "v", m = 4)
        .localCheckpoint())

  /** IVF-PQ codes store: the [[pqStore]] codes tagged with the `#probe`
    * index's coarse cluster and written `partitionBy("cluster")` — the
    * production IVF-PQ layout where a query reads nprobe/nlist of the
    * files AND each file holds m-byte codes instead of vectors.
    */
  private[graft] def ivfPqStore(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#ivfpq") {
      val (model, _) = pqStore(s, dir)
      val idx = probeIvf(s, dir)
      val path = tempDir("graft-ivfpq-codes")
      graft.ops.Pq.encode(idx.clustered, "vector", model)
        .select("id", "pcode", "cluster")
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
      s.read.parquet(path)
    }

  /** Residual IVF-PQ store: codebooks fit on (vector - coarse centroid)
    * residuals — the textbook IVF-PQ form — codes written
    * `partitionBy("cluster")` like [[ivfPqStore]]. Same pruned cost
    * shape, less quantization error per code byte (BASELINE.md recall).
    */
  private[graft] def ivfPqResidualStore(s: SparkSession, dir: String): (graft.ops.Pq.PqModel, DataFrame) =
    memo("pq", s"$dir#res") {
      val idx = probeIvf(s, dir)
      val res = graft.ops.Pq.residuals(idx.clustered, idx.centroids, "vector")
        .select(col("id"), col("cluster"), col("__res"))
      val dim = res.select(size(col("__res"))).head().getInt(0)
      val model = graft.ops.Pq.fit(res, "id", "__res", dim,
        m = 4, ksub = 16, maxIter = 1, seed = 42L)
      val path = tempDir("graft-ivfpq-res")
      graft.ops.Pq.encode(res, "__res", model)
        .select("id", "pcode", "cluster")
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
      (model, s.read.parquet(path))
    }

  /** Stored inverted index over the documents corpus of `dir`: postings
    * written `partitionBy("tb")` ONCE (term-bucket hash partitions — the
    * production retrieval layout) plus the two corpus stats captured at
    * ingest. Queries partition-prune to their terms' buckets
    * ([[graft.ops.TextIndex.searchPostings]]).
    */
  private[graft] def textIndexStore(s: SparkSession, dir: String): (DataFrame, Long, Double) =
    memo("textIdx", dir) {
      val d = docs(s, dir)
      val path = tempDir("graft-text-index")
      graft.ops.TextIndex.buildPostings(d, "doc_id", "text", nBuckets = 32)
        .write.mode("overwrite").partitionBy("tb").parquet(path)
      val (n, avglen) = graft.ops.TextIndex.corpusStats(d, "doc_id", "text")
      (s.read.parquet(path), n, avglen)
    }

  /** The configured-tokenizer index of the documents corpus: same layout
    * as [[textIndexStore]] but built under an explicit
    * [[graft.ops.TextIndex.TokenizerConfig]] (the backend's
    * `TextIndexParams` — tokenizer type, lowercase, token length bounds,
    * stopwords). The config only changes the map-side token lambda;
    * every downstream shape (partitionBy(tb), pruning, BM25 serving) is
    * shared with the default index.
    */
  private[graft] val textCfg = graft.ops.TextIndex.TokenizerConfig(
    tokenizer = "word", lowercase = true,
    minTokenLen = 4, maxTokenLen = 6,
    stopwords = Seq("table", "value"))

  private[graft] def textIndexCfgStore(s: SparkSession, dir: String): (DataFrame, Long, Double) =
    memo("textIdx", s"$dir#cfg") {
      val d = docs(s, dir)
      val path = tempDir("graft-text-index-cfg")
      graft.ops.TextIndex.buildPostings(d, "doc_id", "text", nBuckets = 32, cfg = textCfg)
        .write.mode("overwrite").partitionBy("tb").parquet(path)
      val (n, avglen) = graft.ops.TextIndex.corpusStats(d, "doc_id", "text", cfg = textCfg)
      (s.read.parquet(path), n, avglen)
    }

  /** The PREFIX index of the documents corpus: word tokens expanded to
    * their length-3..5 prefixes at ingest, so a prefix query is an EXACT
    * term lookup — partition-pruned by term bucket like every other
    * index read; no LIKE scan exists at query time.
    */
  private[graft] val prefixCfg = graft.ops.TextIndex.TokenizerConfig(
    tokenizer = "prefix", lowercase = true,
    minTokenLen = 3, maxTokenLen = 5)

  private[graft] def textPrefixStore(s: SparkSession, dir: String): DataFrame =
    memo("textIdx", s"$dir#prefix") {
      val d = docs(s, dir)
      val path = tempDir("graft-text-index-prefix")
      graft.ops.TextIndex.buildPostings(d, "doc_id", "text", nBuckets = 32, cfg = prefixCfg)
        .write.mode("overwrite").partitionBy("tb").parquet(path)
      (s.read.parquet(path), 0L, 0.0)
    }._1

  /** Inverted SPARSE index of the embeddings corpus of `dir`: dimension
    * postings ([[graft.ops.SparseIndex.buildPostings]]) written
    * `partitionBy("db")` once at ingest — the Qdrant sparse-index analog
    * of [[textIndexStore]]. Serving prunes to the query's dim buckets.
    */
  private[graft] def sparseIndexStore(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#sparseidx") {
      val e = Tables.load(s, dir, "embeddings")
      val (ki, kv) = sparseOf(col("embedding"))
      val base = e.select(col("vec_id").cast(StringType).as("id"),
        ki.as("ki"), kv.as("kv"))
      val path = tempDir("graft-sparse-idx")
      graft.ops.SparseIndex.buildPostings(base, "id", "ki", "kv", nBuckets = 16)
        .write.mode("overwrite").partitionBy("db").parquet(path)
      s.read.parquet(path)
    }

  /** The recall-eval query sample of `dir` (deterministic: every 50th
    * vec_id at remainder 5), and its EXACT top-10 ground truth
    * materialized once offline — [[graft.ops.Ann.recallTruth]] is the
    * one inherently O(|queries| x |corpus|) stage of the eval, so it
    * lives beside the IVF/BPE/LM artifacts, not inside the gate.
    */
  private[graft] def recallQueries(s: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") % 50 === 5)
      .select(col("vec_id"), dvec(col("embedding"))).collect()
      .map(r => r.getAs[Number](0).intValue() -> r.getSeq[Double](1)).toSeq
      .sortBy(_._1)

  private[graft] def recallTruthStore(s: SparkSession, dir: String): DataFrame =
    memo("recallTruth", dir)(
      graft.ops.Ann.recallTruth(homD(s, dir), "id", "vector",
        recallQueries(s, dir), k = 10).localCheckpoint())

  /** Stored PQ model + codes table for the corpus of `dir`: 4 subspaces
    * x 16-centroid codebooks trained by the shared seeded Lloyd's, codes
    * (id, pcode) materialized ONCE at ingest — at dim=64 the codes table
    * is 4 bytes of quantized payload per row vs 256 for the float vector.
    * The PQ analog of [[storedCodes]]; [[graft.ops.Pq.searchPqStored]]
    * serves from it without touching the full-precision column until the
    * rerank.
    */
  private[graft] def pqStore(s: SparkSession, dir: String): (graft.ops.Pq.PqModel, DataFrame) =
    memo("pq", dir) {
      val corpus = homD(s, dir).select("id", "vector")
      val dim = corpus.select(size(col("vector"))).head().getInt(0)
      val model = graft.ops.Pq.fit(corpus, "id", "vector", dim,
        m = 4, ksub = 16, maxIter = 1, seed = 42L)
      val codes = graft.ops.Pq.encode(corpus, "vector", model)
        .select("id", "pcode").localCheckpoint()
      (model, codes)
    }

  /** Per-band LSH index of the corpus of `dir`: the [[graft.ops.Ann
    * .lshBandIndex]] layout written `partitionBy("band", "bandkey")` to
    * parquet ONCE (the production multi-hash-table serving layout; an
    * offline ingest artifact like the clustered IVF store). Queries
    * partition-prune to their own `bands` keys.
    */
  private[graft] def lshBandStore(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#lshband") {
      val path = tempDir("graft-lsh-band")
      graft.ops.Ann.lshBandIndex(
          storedLshSignatures(s, dir).select("id", "bucket"), "id", nbits = 16)
        .write.mode("overwrite").partitionBy("band", "bandkey").parquet(path)
      s.read.parquet(path)
    }

  /** Near-dup CLUSTER labels at gate sizing, cached: cluster labeling is
    * an offline batch stage of the dedup pipeline (its cost is the
    * measured point of the dedup_clusters gate); consumers — leakage-safe
    * split assignment here — read its output, like contrastive pair-gen
    * reads [[lshPairStore]].
    */
  private[graft] def clusterStore(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#clusters")(
      Dedup.dedupClusters(docsWithNearDups(s, dir), "doc_id", "text",
          Seq("lang", "source"), threshold = 0.8)
        .select(col("id").as("doc_id"), col("component")).localCheckpoint())

  /** The SCALE-TRUE cluster labels (MinHash-LSH pairs -> CC), cached like
    * [[clusterStore]]; the raw labeling cost stays measured by the
    * dedup_clusters_minhash gate — every other consumer (survivor
    * selection here) reads the artifact, the production shape.
    */
  private[graft] def minhashClusterStore(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#mclusters")(
      Dedup.dedupClustersMinhash(docsWithNearDups(s, dir), "doc_id", "text",
          threshold = 0.8).localCheckpoint())

  /** Verified near-dup pair frame at PRODUCTION band sizing (nbits=64 /
    * bands=4, the Dedup.scala sizing contract). Pair MINING is an offline
    * batch stage of the dedup pipeline — it runs once per ingest, and its
    * consumers (contrastive pair-gen, cluster labeling) read its output —
    * so this is memoized like the IVF/PQ/quantization artifacts and the
    * gates measure the consuming path, not a per-query re-mine.
    */
  private[graft] def lshPairStore(s: SparkSession, dir: String): DataFrame =
    memo("quant", s"$dir#lshpairs64")(
      Dedup.embeddingNearDupLsh(embWithNearDups(s, dir), "vec_id", "v",
        threshold = 0.999, nbits = 64, bands = 4).localCheckpoint())

  /** Pre-build offline artifacts (the IVF index, the stored int8 codes)
    * for `dir`. Index construction and ingest-time quantization are
    * offline batch jobs in production — the reference's backend likewise
    * builds its HNSW index out-of-band — so Bench warmup calls this and
    * the ann_ivf / quantized_search numbers measure the serving path.
    */
  def warmOffline(s: SparkSession, dir: String): Unit = {
    fittedIvf(s, dir)
    probeIvf(s, dir)
    storedCodes(s, dir)
    storedLshSignatures(s, dir)
    hnswInsertEdges(s, dir)
    ivfStored(s, dir)
    lshBandStore(s, dir)
    pqStore(s, dir)
    ivfPqStore(s, dir)
    ivfPqResidualStore(s, dir)
    textIndexStore(s, dir)
    textIndexCfgStore(s, dir)
    textPrefixStore(s, dir)
    payloadIndex(s, dir)
    geoStore(s, dir)
    calibratedStore(s, dir)
    lshPairStore(s, dir)
    sparseIndexStore(s, dir)
    nbModel(s, dir)
    clusterStore(s, dir)
    minhashClusterStore(s, dir)
    bigramLm(s, dir)
    recallTruthStore(s, dir)
    ()
  }

  // -- helpers --------------------------------------------------------------

  private[graft] def hom(s: SparkSession, dir: String): DataFrame =
    Collections.homogeneous(s, dir)

  /** READ-ONLY event-payload fixtures of `dir` (datetime + the two geo
    * shapes), built once per dir and shared by their gates: the gates
    * measure the pushed filter SERVE — rebuilding a corpus-sized
    * in-memory store per invocation would charge the fixture, not the
    * filter, to the bench.
    */
  private[graft] def eventsPayloadStore(s: SparkSession, dir: String, kind: String,
                                        payload: => Column): InMemoryCollectionStore =
    memo("eventsFixture", s"$dir#$kind") {
      val dsc = CollectionDescriptor("events", Seq())
      val src = events(s, dir).select(
        col("event_id").cast(StringType).as("id"), payload.as("payload"))
      InMemoryCollectionStore.fromRows(src, "events", dsc)
    }

  private[graft] def eventsDtStore(s: SparkSession, dir: String): InMemoryCollectionStore =
    eventsPayloadStore(s, dir, "dt", to_json(struct(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("created"),
      col("event_type"))))

  private[graft] def eventsGeoStore(s: SparkSession, dir: String): InMemoryCollectionStore =
    eventsPayloadStore(s, dir, "geo", to_json(struct(
      struct(
        (col("user_id") % 90).cast(DoubleType).as("lat"),
        (col("event_id") % 180).cast(DoubleType).as("lon")).as("loc"),
      col("event_type"))))

  private[graft] def eventsPolyStore(s: SparkSession, dir: String): InMemoryCollectionStore =
    eventsPayloadStore(s, dir, "poly", to_json(struct(
      struct(
        col("user_id").cast(DoubleType).as("lat"),
        (col("event_id") % 180).cast(DoubleType).as("lon")).as("loc"),
      col("event_type"))))

  private[graft] def dvec(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Rendezvous shard for n=3 as a Column — the seeding-side twin of
    * [[ShardedCollectionStore.assignShard]] (md5 argmax,
    * earlier index wins ties; pinned bit-identical to the scalar form
    * via Pipeline.rendezvousAssign in ShardedCollectionStoreSpec).
    */
  private[graft] def shardOf3(id: Column): Column = {
    val hs = (0 to 2).map(i => md5(concat(id.cast("string"), lit(s"#$i"))))
    when(hs(0) >= hs(1) && hs(0) >= hs(2), 0)
      .when(hs(1) >= hs(2), 1).otherwise(2)
  }

  /** Rendezvous shard for n=2 as a Column (same md5-argmax law). */
  private[graft] def shardOf2(id: Column): Column = {
    val h0 = md5(concat(id.cast("string"), lit("#0")))
    val h1 = md5(concat(id.cast("string"), lit("#1")))
    when(h0 >= h1, 0).otherwise(1)
  }

  /** homogeneous collection with vector pre-cast to array<double>. */
  private[graft] def homD(s: SparkSession, dir: String): DataFrame =
    hom(s, dir).withColumn("vector", dvec(col("vector")))

  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private[graft] def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private[graft] def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Shared base+reagg execution of the OLAP grouping gates (rollup /
    * cube / grouping-sets over (l_returnflag, l_linestatus)): aggregate
    * the corpus ONCE at the finest grouping, then derive each requested
    * super-aggregate from the group-count-sized base — decimal sums of
    * decimal sums and long sums of counts are exact, so the rows are
    * value-identical to the Expand plan that pushes every raw row
    * through the partial aggregate once per grouping set. `gids` picks
    * the grouping sets by their grouping_id (flag = high bit).
    */
  private[graft] def olapReagg(li: DataFrame, gids: Seq[Long]): DataFrame = {
    // The base is materialized ONCE (eager localCheckpoint of the
    // group-count-sized aggregate) so the one-corpus-scan guarantee
    // holds structurally: the union's branches each re-plan the base
    // subtree, and without the checkpoint the single scan depends
    // entirely on AQE runtime exchange reuse (r18's after-plan showed 4
    // scan+partial-agg subtrees and no ReusedExchange — the corpus
    // could be scanned per branch, worse than Expand at scale). The
    // checkpointed frame is a handful of rows at ANY corpus size.
    val base = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).as("__s"), count(lit(1)).as("__n"))
      .localCheckpoint()
    val nullStr = lit(null).cast(StringType)
    def branch(gid: Long): DataFrame = gid match {
      case 0L => base.select(col("l_returnflag"), col("l_linestatus"),
        col("__s").cast(DoubleType).as("sum_qty"), col("__n").as("n"),
        lit(0L).as("gid"))
      case 1L => base.groupBy(col("l_returnflag"))
        .agg(sum(col("__s")).cast(DoubleType).as("sum_qty"),
          sum(col("__n")).as("n"))
        .select(col("l_returnflag"), nullStr.as("l_linestatus"),
          col("sum_qty"), col("n"), lit(1L).as("gid"))
      case 2L => base.groupBy(col("l_linestatus"))
        .agg(sum(col("__s")).cast(DoubleType).as("sum_qty"),
          sum(col("__n")).as("n"))
        .select(nullStr.as("l_returnflag"), col("l_linestatus"),
          col("sum_qty"), col("n"), lit(2L).as("gid"))
      case _ => base
        .agg(sum(col("__s")).cast(DoubleType).as("sum_qty"),
          // empty-input edge: COUNT over the () set is 0, never NULL
          coalesce(sum(col("__n")), lit(0L)).as("n"))
        .select(nullStr.as("l_returnflag"), nullStr.as("l_linestatus"),
          col("sum_qty"), col("n"), lit(3L).as("gid"))
    }
    gids.map(branch).reduce(_ union _)
  }

  /** Shared polygon of the geo_polygon gate: (lat, lon) vertices, chosen
    * off the integer data grid so no point sits on an edge. ONE list
    * feeds both the engine predicate and the generated oracle SQL.
    */
  private[graft] val GeoPoly: Seq[(Double, Double)] = Seq(
    (10.5, 20.5), (80.5, 10.5), (140.5, 60.5), (90.5, 170.5), (20.5, 120.5))

  /** Vector rendered as a comma-joined string of round(x*1e6) integers.
    * The correctness gate hashes scalar cells (array cells break its sort),
    * so queries that OUTPUT a vector serialize it; `floor(x*1e6 + 0.5)` is
    * pure IEEE arithmetic — bit-identical in Spark and DuckDB, unlike
    * engine-native float→string formatting. NULL array -> NULL string.
    */
  private[graft] def vq6(c: Column): Column =
    array_join(transform(dvec(c),
      x => floor(x * lit(1e6) + lit(0.5)).cast(StringType)), ",")

  /** Same stringification for an integral array. */
  private[graft] def iarr(c: Column): Column =
    array_join(transform(c, _.cast(StringType)), ",")

  /** Runs the streaming write `w` once to completion (AvailableNow,
    * append) with its checkpoint in `ckpt`.
    */
  private[graft] def drain(w: DataStreamWriter[Row], ckpt: String): Unit = {
    val q = w.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
  }

  /** A read of `collection` from the registered store `store` through
    * the graft connector.
    */
  private[graft] def connectorRead(s: SparkSession, store: String,
                                   collection: String): DataFrameReader =
    s.read.format("graft.sources.CollectionDataSource")
      .option("store", store).option("collection", collection)

  /** `q` as the connector's `search.vector` option value. */
  private[graft] def vectorOpt(q: Seq[Double]): String =
    q.map(x => java.lang.Double.toString(x)).mkString(",")

  /** The connector's pushed top-k options on a collection read. */
  private[graft] implicit final class SearchOptions(private val r: DataFrameReader)
      extends AnyVal {
    def search(field: String, q: Seq[Double], metric: String, k: Int): DataFrameReader =
      r.option("search.field", field).option("search.vector", vectorOpt(q))
        .option("search.metric", metric).option("search.k", k.toString)
  }

  /** The embedding of vec_id `vecId` as doubles: a search gate's query. */
  private[graft] def queryVector(s: SparkSession, dir: String, vecId: Int): Seq[Double] =
    Tables.load(s, dir, "embeddings").filter(col("vec_id") === vecId)
      .select(dvec(col("embedding"))).head().getSeq[Double](0)

  /** 1-row broadcastable query-vector frame (array<double>) for `queryId`. */
  private[graft] def qvecOf(df: DataFrame, queryId: String, as: String = "__qvec"): DataFrame =
    df.filter(col("id") === lit(queryId)).select(col("vector").as(as))

  /** Literal example vectors for the V_RECOMMEND vector-literal gate
    * (tests.sql:97-105): deterministic 64-dim doubles shared by the Spark
    * query and the oracle (embedded as shortest-round-trip literals, which
    * DuckDB parses back to identical IEEE values — the lshSql technique).
    */
  private[graft] val recLitPos: Seq[IndexedSeq[Double]] = Seq(
    IndexedSeq.tabulate(64)(i => math.sin(i + 1.0)),
    IndexedSeq.tabulate(64)(i => math.cos(i + 1.0) * 0.5))
  private[graft] val recLitNeg: Seq[IndexedSeq[Double]] = Seq(
    IndexedSeq.tabulate(64)(i => math.sin(2.0 * i + 1.0) * 0.25))

  private[graft] def duckVecLit(v: Seq[Double]): String =
    v.map(x => java.lang.Double.toString(x).replace("E", "e"))
      .mkString("[", ", ", "]") + "::DOUBLE[]"

  /** Documents corpus with planted exact duplicates (doc_id % 10 == 0
    * re-appears as doc_id + 1000000) — both engines build it identically.
    */
  private[graft] def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.union(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  /** Documents corpus with planted NEAR duplicates (doc_id % 7 == 0
    * re-appears as doc_id + 1000000 with ' zzz' appended).
    */
  private[graft] def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
    d.union(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text"), col("lang"), col("source")))
  }

  /** The boilerplate line planted for the line-dedup gate (appended to
    * doc_id % 4 == 0 in BOTH engines).
    */
  private[graft] val BoilerLine = "subscribe to our newsletter for daily updates"

  /** The 9-token phrase planted for the span-dedup gates (appended to
    * doc_id % 4 == 0 of the exact-dup corpus in BOTH engines): gives the
    * substring-level dedup a cross-document duplicated REGION that is not
    * a whole-document duplicate.
    */
  private[graft] val SharedPhrase = "the quick brown fox jumps over the lazy dog"

  /** Exact-dup corpus with [[SharedPhrase]] appended to doc_id % 4 == 0 —
    * the span-dedup test shape: full-document duplicate spans (from the
    * planted exact dups) plus a short shared tail phrase across unrelated
    * docs. 1000000 % 4 == 0, so a planted duplicate carries the phrase iff
    * its original does — in both engines.
    */
  private[graft] def docsWithSharedPhrase(s: SparkSession, dir: String): DataFrame =
    docsWithExactDups(s, dir).select(col("doc_id"),
      when(col("doc_id") % 4 === 0, concat(col("text"), lit(" " + SharedPhrase)))
        .otherwise(col("text")).as("text"))

  /** Documents corpus with planted TYPO variants (doc_id % 7 == 0
    * re-appears as doc_id + 2000000 with the 11th character replaced by
    * '~') — edit distance 1 from the original, same lang/source/prefix
    * block; built identically in both engines.
    */
  private[graft] def docsWithTypos(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
    d.union(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(substring(col("text"), 1, 10), lit("~"),
          expr("substring(text, 12)")).as("text"),
        col("lang"), col("source")))
  }

  /** Target mixture for the mix_sources gate — 8 of the 20 sources with
    * deliberately skewed weights (the rest drop out).
    */
  private[graft] val MixTargets: Seq[(String, Double)] = Seq(
    "src0" -> 0.30, "src1" -> 0.25, "src2" -> 0.15, "src3" -> 0.10,
    "src4" -> 0.10, "src5" -> 0.05, "src6" -> 0.03, "src7" -> 0.02)

  /** Documents re-rendered with a deterministic LINE structure (8-token
    * lines joined by newline; same arithmetic in the DuckDB mirror) over
    * the exact-dup corpus, plus [[BoilerLine]] appended to doc_id % 4 == 0
    * — the line-level-dedup test shape: whole-doc duplicates AND a
    * boilerplate line repeated across unrelated docs.
    */
  private[graft] def lineStructuredDocs(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val nLines = greatest(ceil(size(toks) / lit(8.0)).cast(IntegerType), lit(1))
    val lines = transform(sequence(lit(0), nLines - 1),
      g => array_join(slice(toks, g * lit(8) + lit(1), lit(8)), " "))
    docsWithExactDups(s, dir)
      .select(col("doc_id"), array_join(lines, "\n").as("__t"))
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("__t"), lit("\n" + BoilerLine))).otherwise(col("__t")).as("text"))
  }

  /** [[lineStructuredDocs]] DECORATED for the line-rules gates: '- '
    * bullets on even lines of doc_id % 5 == 0, '...' endings on every 4th
    * line of doc_id % 3 == 0, and the (decorated) first line re-appended
    * for doc_id % 6 == 0 — a planted within-doc duplicate. Same
    * arithmetic in the DuckDB mirror (DuckMirror.decoratedLineCtes).
    */
  private[graft] def decoratedLineDocs(s: SparkSession, dir: String): DataFrame = {
    val dec = transform(split(col("text"), "\n"), (l, i) => concat(
      when(col("doc_id") % 5 === 0 && i % 2 === 0,
        concat(lit("- "), l)).otherwise(l),
      when(col("doc_id") % 3 === 0 && i % 4 === 0,
        lit("...")).otherwise(lit(""))))
    lineStructuredDocs(s, dir)
      .select(col("doc_id"), array_join(dec, "\n").as("__t"))
      .select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          concat(col("__t"), lit("\n"), element_at(split(col("__t"), "\n"), 1)))
          .otherwise(col("__t")).as("text"))
  }

  /** Embeddings corpus (double vectors) with planted near-duplicate vectors
    * (vec_id % 5 == 0 re-appears as vec_id + 100000, scaled by 0.99).
    */
  private[graft] def embWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), dvec(col("embedding")).as("v"))
    e.union(e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"),
        transform(col("v"), x => x * lit(0.99)).as("v")))
  }

  /** (indices, values) sparse representation of the strictly-positive
    * positions of an array<float> embedding (0-based ascending indices).
    */
  private[graft] def sparseOf(emb: Column): (Column, Column) = {
    val s = filter(transform(emb, (x, i) => struct(i.as("i"), x.as("x"))),
      e => e("x") > lit(0f))
    (transform(s, e => e("i").cast(IntegerType)),
      transform(s, e => e("x").cast(DoubleType)))
  }

  // -- the operator surface -------------------------------------------------


  /** Deterministically messy raw URLs derived from the documents table —
    * planted aliasing (host case, www. prefixes, :443 ports, trailing
    * slashes, utm params, query order) shared by the dedup_url and
    * url_host_filter gates; the oracles re-derive the same strings.
    */
  private[graft] def rawUrl: Column = concat(
    lit("https://"),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
    lit(".Example.COM"),
    when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
    lit("/docs/"), (col("doc_id") % 40).cast(StringType),
    when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 4 === 0, lit("?utm_source=feed&b=2&a=1"))
      .when(col("doc_id") % 4 === 1, lit("?b=2&a=1"))
      .when(col("doc_id") % 4 === 2, lit("?a=1&b=2"))
      .otherwise(lit("")))

  /** DuckDB mirror of [[vq6]]: comma-joined round(x*1e6) integers. */
  private[graft] def duckVq6(expr: String): String =
    s"array_to_string(list_transform(CAST($expr AS DOUBLE[]), " +
      "x -> CAST(CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS VARCHAR)), ',')"

  /** Shared oracle of the two set_payload gates: expected VALUES after
    * the patch ({"label":99,"reviewed":true} on vec_id 0,10,20,30,40),
    * read through the json surface so payload serialization order never
    * enters the compare.
    */
  private[graft] val SetPayloadOracle: String =
    """SELECT CAST(vec_id AS VARCHAR) AS id,
      |       CAST(CASE WHEN vec_id IN (0, 10, 20, 30, 40) THEN 99
      |                 ELSE label END AS INTEGER) AS label,
      |       CASE WHEN vec_id IN (0, 10, 20, 30, 40) THEN true END AS reviewed
      |FROM embeddings ORDER BY id""".stripMargin

  /** Shared CTE chain of the dedup_clusters / split_by_cluster oracles:
    * the planted-near-dup corpus, blocked n-gram Jaccard pairs at 0.8,
    * symmetric edges, and the recursive min-label reachability — ONE text
    * so the two gates provably close over the same cluster labels.
    */
  private[graft] val NearDupClustersCte: String =
    """WITH RECURSIVE c AS (SELECT doc_id, text, lang, source FROM documents
      |           UNION ALL
      |           SELECT doc_id + 1000000, text || ' zzz', lang, source
      |           FROM documents WHERE doc_id % 7 = 0),
      |     t AS (SELECT doc_id, lang, source,
      |                  list_distinct(string_split_regex(lower(text), '\s+')) AS toks
      |           FROM c),
      |     p AS (SELECT * FROM (
      |       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |              CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |              CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS j
      |       FROM t a JOIN t b
      |         ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
      |       WHERE ROUND(j, 6) >= 0.8),
      |     e AS (SELECT a_id AS s, b_id AS d FROM p
      |           UNION ALL
      |           SELECT b_id, a_id FROM p),
      |     reach(id, comp) AS (
      |       SELECT doc_id, doc_id FROM c
      |       UNION
      |       SELECT e.d, r.comp FROM reach r JOIN e ON e.s = r.id)""".stripMargin

  /** Shared CTE chain of the lang_id / lang_confusion oracles: `pred`
    * (doc_id, lang_pred) re-derives [[TextAnalysis.langId]].
    */
  private[graft] def langIdPredCtes: String =
    """t AS (SELECT doc_id,
      |                  list_distinct(string_split_regex(lower(text), '\s+')) AS toks
      |           FROM documents),
      |     sc AS (SELECT doc_id,
      |                   len(list_intersect(toks, ['the','and','of','to','is','that','for','with'])) AS s_en,
      |                   len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit'])) AS s_de,
      |                   len(list_intersect(toks, ['el','la','que','de','los','es','una','para'])) AS s_es,
      |                   len(list_intersect(toks, ['le','la','les','des','est','une','dans','pour'])) AS s_fr
      |            FROM t),
      |pred AS (SELECT doc_id,
      |       CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
      |            WHEN s_de = greatest(s_en, s_de, s_es, s_fr) AND s_de > 0 THEN 'de'
      |            WHEN s_es = greatest(s_en, s_de, s_es, s_fr) AND s_es > 0 THEN 'es'
      |            WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) AND s_fr > 0 THEN 'fr'
      |            ELSE 'und' END AS lang_pred
      |FROM sc)""".stripMargin

  /** BM25 over documents for terms (window, batch, scan), k=15 — shared
    * by the engine-side postings gate (inverted_search) and its
    * store-seam twin (dsv2_parquet_text_rank).
    */
  private[graft] lazy val InvertedSearchOracle: String =
    """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
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
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin
}
