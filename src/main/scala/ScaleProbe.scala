import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Scratch scaling probe (not part of the driver contract): replicate the
  * sf0.1 corpus Nx with shifted ids and time the dedup family, to measure
  * the scaling exponent of LSH-bounded vs blocked-quadratic verification.
  * The `probe` section is the targeted A/B harness of the optimization
  * rounds: edit its variants to the pipeline stages under study.
  */
object ScaleProbe {
  /** `df` replicated `n` times: replica i shifts `idCol` by
    * i * (max(idCol) + 1), so replicas never collide at any scale (a
    * string id column stays a string). `replicaCol`, when given, carries
    * the replica index i.
    */
  def replicate(df: DataFrame, idCol: String, n: Int,
                replicaCol: Option[String] = None): DataFrame = {
    val stride = Option(df.agg(max(col(idCol).cast("long"))).head().get(0))
      .fold(0L)(_.asInstanceOf[Long]) + 1L
    val asString = df.schema(idCol).dataType == StringType
    (0 until n).map { i =>
      val shifted = col(idCol).cast("long") + lit(i * stride)
      val r = df.withColumn(idCol, if (asString) shifted.cast("string") else shifted)
      replicaCol.fold(r)(r.withColumn(_, lit(i)))
    }.reduce(_ union _)
  }

  /** Every section name `main` dispatches on — kept adjacent to the
    * `section(...)` calls below; `main` rejects an arg matching none of
    * these (a typo like `recal` would otherwise run NOTHING and exit
    * cleanly, indistinguishable from a successful probe).
    */
  val sectionNames: Seq[String] =
    Seq("dedup", "clusters", "lsh", "emblsh", "stream", "recall", "etl",
      "skew", "tenant", "layout", "sketch", "spans", "planner", "geo",
      "drift", "cdc", "sparse", "rest", "semantic", "classify", "curation",
      "ordering", "storeivf", "pqlog", "fresh", "wire", "storetext",
      "sharded", "recallc", "recallc2", "storehnsw", "topology",
      "maintain", "quanthnsw", "snaprestore", "quantmulti", "probe")

  def main(args: Array[String]): Unit = {
    args.headOption.foreach { s =>
      require(sectionNames.contains(s),
        s"unknown probe section '$s'; valid sections: ${sectionNames.mkString(", ")}")
    }
    val spark = graft.HarnessSession("graft-scale-probe", defaultCpus = "32")
    spark.sparkContext.setLogLevel("ERROR")
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    def corpus(n: Int): DataFrame = replicate(base, "doc_id", n)
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s ($n rows)")
    }
    // optional arg names ONE section to run (e.g. `runMain ScaleProbe etl`);
    // no arg = the full sweep, less the sections marked `namedOnly`
    val only = args.headOption
    def section(name: String, namedOnly: Boolean = false)(body: => Unit): Unit = {
      // keeps sectionNames (the arg validation list) in sync with the
      // actual dispatch sites
      require(sectionNames.contains(name),
        s"section '$name' missing from ScaleProbe.sectionNames")
      if (only.contains(name) || (only.isEmpty && !namedOnly)) body
    }
    // store-served IVF cost shape: the corpus (and its sidecar) grows xN
    // while the QUERY's read stays nprobe/nlist of it — probed serve time
    // should grow ~8x slower than brute-force serve time, and the PRIMARY
    // corpus files must never open on the probed path (the counters
    // printed after each row prove it). Centroids stay nlist rows however
    // large the corpus: the probe-selection read is model-sized at 100 TB.
    section("storeivf") {
      import graft.sources.{ParquetCollectionStore, PayloadCondition, PayloadFilter, SearchSpec}
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"),
          to_json(struct(col("label"))).as("payload"),
          col("embedding").as("vector"))
      def embN(n: Int): DataFrame = replicate(emb, "id", n)
      val q = emb.filter(col("id") === "7")
        .select(col("vector").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val spec = SearchSpec("vector", q, "cosine", 10)
      for (n <- Seq(1, 2, 4, 8)) {
        val c = embN(n)
        val dir = java.nio.file.Files
          .createTempDirectory(s"probe-ivf-x$n").toString
        val idx = graft.ops.Ann.buildIvf(
          c.withColumn("vector", col("vector").cast("array<double>")),
          "id", "vector", nlist = 8, maxIter = 0)
        ParquetCollectionStore.write(c, dir, numFiles = 8)
        ParquetCollectionStore.writeIvfSidecar(
          idx.clustered.select("id", "payload", "vector", "cluster"),
          idx.centroids, dir, field = "vector")
        ParquetCollectionStore.writePayloadSidecar(c, dir,
          key = "label", kind = "int")
        idx.clustered.unpersist()
        val probed = new ParquetCollectionStore(dir, "embeddings",
          graft.collections.Collections.homogeneousDescriptor, ivfNprobe = 2)
        val brute = new ParquetCollectionStore(dir, "embeddings",
          graft.collections.Collections.homogeneousDescriptor)
        time(s"store_ivf_probed x$n (5 queries)") {
          (1 to 5).map(_ =>
            probed.searchPoints("embeddings", spec, withPayload = false,
              vectorFields = Nil).size.toLong).sum
        }
        time(s"store_ivf_brute x$n (5 queries)") {
          (1 to 5).map(_ =>
            brute.searchPoints("embeddings", spec, withPayload = false,
              vectorFields = Nil).size.toLong).sum
        }
        // the payload-index pre-filter arm: one label (~10% of the
        // corpus, under the 20% dial) becomes the access path — the read
        // is its single value partition, growing at a tenth of the
        // corpus's rate, and the count variant is footer-only
        val pf = PayloadFilter(
          Seq(PayloadCondition("label", "eq", "3")), Nil, None)
        time(s"store_prefilter x$n (5 queries)") {
          (1 to 5).map(_ =>
            probed.searchPointsFiltered("embeddings", spec,
              withPayload = false, vectorFields = Nil, pf).size.toLong).sum
        }
        time(s"store_indexed_count x$n") {
          probed.countMatchingFiltered("embeddings", None, None, pf)
        }
        println(s"[probe] x$n files opened: probed primary=" +
          s"${probed.filesOpened.get} (clusters=${probed.ivfClustersTouched.size}, " +
          s"values=${probed.payloadValuesTouched.mkString(",")}) " +
          s"brute primary=${brute.filesOpened.get}")
      }
    }

    // scatter-gather cost shape: the SAME corpus behind N rendezvous-
    // placed parquet shards — per-shard scan volume must be corpus/N
    // (each shard's file opens = its own slice), an id lookup must open
    // ONLY the owning shard, and the merged top-k must equal the flat
    // store's page exactly. Wall time here is serial fan-out (one JVM);
    // on a cluster the shards answer in parallel, so the per-shard
    // volume column IS the latency story at 100 TB.
    section("sharded") {
      import graft.sources.{ParquetCollectionStore, SearchSpec, ShardedCollectionStore}
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"),
          to_json(struct(col("label"))).as("payload"),
          col("embedding").as("vector"))
      val c = replicate(emb, "id", 4)
      val total = c.count()
      val q = emb.filter(col("id") === "7")
        .select(col("vector").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val spec = SearchSpec("vector", q, "cosine", 10)
      val desc = graft.collections.Collections.homogeneousDescriptor
      var flatPage: Seq[String] = Nil
      for (n <- Seq(1, 2, 4, 8)) {
        // rendezvous-place once, write each shard's slice
        val assigned = graft.ops.Pipeline.rendezvousAssign(c, "id", n)
        val dirs = (0 until n).map { i =>
          val dir = java.nio.file.Files
            .createTempDirectory(s"probe-shard-x$n-$i").toString
          ParquetCollectionStore.write(
            assigned.filter(col("shard") === i)
              .select("id", "payload", "vector"),
            dir, numFiles = 4)
          dir
        }
        val sh = new ShardedCollectionStore(
          dirs.map(new ParquetCollectionStore(_, "embeddings", desc)))
        time(s"sharded_topk n=$n (5 queries)") {
          (1 to 5).map(_ => sh.searchPoints("embeddings", spec,
            withPayload = false, vectorFields = Nil).size.toLong).sum
        }
        val page = sh.searchPoints("embeddings", spec,
          withPayload = false, vectorFields = Nil).map(_._1.id)
        if (n == 1) flatPage = page
        else require(page == flatPage,
          s"sharded page diverged at n=$n: $page vs $flatPage")
        time(s"sharded_scroll n=$n") {
          var cnt = 0L
          sh.queryPoints("embeddings", 0L, total, withPayload = false,
            Nil, None).foreach(_ => cnt += 1)
          cnt
        }
        val lookupId = "42"
        sh.queryPoints("embeddings", 0L, total, withPayload = false, Nil,
          None, idFilter = Some(Set(lookupId))).foreach(_ => ())
        val opened = sh.shards.map(
          _.asInstanceOf[ParquetCollectionStore].filesOpened.get())
        val counts = sh.shards.map(_.pointCount("embeddings"))
        println(s"[probe] n=$n per-shard points=${counts.mkString(",")} " +
          s"(corpus/N=${total / n}) files-opened(after scrolls+lookup)=" +
          s"${opened.mkString(",")} owner(42)=" +
          s"${ShardedCollectionStore.assignShard(lookupId, n)}")
      }
      // THRESHOLD FACET MERGE volume: rows crossing the member seam must
      // be independent of the key's distinct-value count (the old exact
      // merge pulled full per-shard histograms — O(distinct) at the
      // merge point). Fixture: 3 dominant head values over a tail of K
      // distinct values, K swept 1,000 -> 16,000; counting members
      // record what the wrapper pulls.
      {
        import graft.sources.{CollectionStore, InMemoryCollectionStore, Point}
        import graft.collections.CollectionDescriptor
        val fdesc = CollectionDescriptor("f", Seq.empty)
        final class FacetCounting(inner: InMemoryCollectionStore)
            extends CollectionStore {
          val rows = new java.util.concurrent.atomic.AtomicLong(0L)
          override def collectionInfo(c: String) = inner.collectionInfo(c)
          override def collectionNames = inner.collectionNames
          override def pointCount(c: String) = inner.pointCount(c)
          override def queryPoints(c: String, from: Long, until: Long,
                                   wp: Boolean, vf: Seq[String],
                                   limit: Option[Int],
                                   idF: Option[Set[String]],
                                   idL: Option[String]) =
            inner.queryPoints(c, from, until, wp, vf, limit, idF, idL)
          override def facetCounts(c: String, key: String, limit: Int,
                                   pfilter: graft.sources.PayloadFilter) = {
            val p = inner.facetCounts(c, key, limit, pfilter)
            rows.addAndGet(p.size.toLong); p
          }
          override def facetCountsFor(c: String, key: String,
                                      values: Set[String],
                                      pfilter: graft.sources.PayloadFilter) = {
            val f = inner.facetCountsFor(c, key, values, pfilter)
            rows.addAndGet(f.size.toLong); f
          }
        }
        for (distinct <- Seq(1000, 4000, 16000)) {
          // 3 dominant heads (count = `distinct` each) over a tail of
          // `distinct` singleton values: one threshold round certifies
          val pts = (0 until distinct * 4).map { i =>
            val v = if (i % 4 != 3) s"head${i % 4}" else s"t${i / 4 % distinct}"
            Point(f"$i%07d", Some(s"""{"v":"$v"}"""), Map.empty)
          }
          val probes = (0 until 4).map { s =>
            new FacetCounting(InMemoryCollectionStore.single("f", fdesc,
              pts.filter(p =>
                ShardedCollectionStore.assignShard(p.id, 4) == s)))
          }
          val shf = new ShardedCollectionStore(probes.toIndexedSeq)
          val page = shf.facetCounts("f", "v", 3)
          require(page.map(_._1) == Seq("head0", "head1", "head2"),
            s"facet head wrong: $page")
          println(s"[probe] facet_merge distinct=$distinct " +
            s"rows-crossed=${probes.map(_.rows.get()).sum} " +
            s"(full-histogram merge would cross ~${distinct + 3})")
        }
      }
      // TWO-PHASE BM25 ship volume at sf0.1, under a term matching ~78%
      // of the corpus ("stream": 3,923 of 5,000 docs): the one-phase
      // partials seam ships one candidate row per matching doc to the
      // merge point; the two-phase rank ships stats (a few longs) plus
      // at most shards·k rows — the volume the wire/merge actually pays
      {
        import graft.sources.{CollectionStore => CS, _}
        val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
          .select(lpad(col("doc_id").cast("string"), 10, "0").as("id"),
            to_json(struct(col("text").as("body"))).as("payload"))
        val assignedD = graft.ops.Pipeline.rendezvousAssign(docs, "id", 3)
        val tdesc = graft.collections.CollectionDescriptor("documents", Seq.empty)
        val tMembers = (0 until 3).map { i =>
          val own = assignedD.filter(col("shard") === i)
            .select("id", "payload")
          val d = java.nio.file.Files
            .createTempDirectory(s"probe-shtr-$i").toString
          ParquetCollectionStore.write(own, d, numFiles = 2)
          ParquetCollectionStore.writeTextSidecar(own, d, key = "body",
            nBuckets = 16)
          new ParquetCollectionStore(d, "documents", tdesc)
        }
        val shT = new ShardedCollectionStore(tMembers)
        val terms = Seq("stream", "data")
        val k = 10
        val p = shT.textRankPartials("documents", "body", terms)
        var ranked: Seq[(String, Double)] = Nil
        time(s"bm25_two_phase_rank k=$k") {
          ranked = shT.searchTextRanked("documents", "body", terms, k)
          ranked.size.toLong
        }
        require(ranked.size == k, s"rank came up short: ${ranked.size}")
        println(s"[probe] bm25_ship terms=${terms.mkString(",")} " +
          s"dfs=${p.dfs.mkString(",")} one-phase-candidates=${p.docs.size} " +
          s"two-phase-ship<=${3 * k} rows (+ 2x${2 + terms.length} stat longs/shard)")
      }
      // LIVE RESHARD: moved fraction must track 1/(N+1) — rendezvous
      // moves only the ids whose argmax lands on the appended member
      {
        import graft.sources.InMemoryCollectionStore
        val rdesc = graft.collections.Collections.homogeneousDescriptor
        val pts = emb.limit(2000).collect().map(r =>
          graft.sources.Point(r.getString(0), Some(r.getString(1)),
            dense = Map("vector" -> r.getSeq[Float](2).toArray))).toIndexedSeq
        for (n <- Seq(2, 4, 8)) {
          val sh2 = new ShardedCollectionStore((0 until n).map { i =>
            InMemoryCollectionStore.single("embeddings", rdesc, pts.filter(
              p => ShardedCollectionStore.assignShard(p.id, n) == i))
          })
          val pageBefore = sh2.searchPoints("embeddings", spec,
            withPayload = false, vectorFields = Nil).map(_._1.id)
          time(s"reshard n=$n->${n + 1}") {
            sh2.reshard(Seq(InMemoryCollectionStore.single(
              "embeddings", rdesc, IndexedSeq.empty)))
            sh2.shards.last.pointCount("embeddings")
          }
          val moved = sh2.shards.last.pointCount("embeddings")
          val pageAfter = sh2.searchPoints("embeddings", spec,
            withPayload = false, vectorFields = Nil).map(_._1.id)
          require(pageAfter == pageBefore,
            s"reshard changed the page at n=$n")
          println(f"[probe] reshard n=$n->${n + 1} moved=$moved of " +
            f"${pts.size} (${moved.toDouble / pts.size}%.3f, " +
            f"1/(N+1)=${1.0 / (n + 1)}%.3f) page-identical=true")
        }
      }
      // RESHARD OVER THE WIRE: migrating a remote member's slice must
      // ship BOUNDED requests — the leaver scan pages positionally
      // (slice/pageSize requests), each point-batch fetch pages the ID
      // SET (the paged id-filter: ceil(batch/pageSize) requests, never
      // a positional loop re-serializing the whole batch per window),
      // one delete per batch. The naive positional form would ship
      // batches x slicePages requests EACH carrying the full id set.
      {
        import graft.sources.{CollectionGrpcServer, CollectionStores,
          GrpcCollectionStore, InMemoryCollectionStore}
        val rdesc = graft.collections.Collections.homogeneousDescriptor
        val pts = emb.limit(2000).collect().map(r =>
          graft.sources.Point(r.getString(0), Some(r.getString(1)),
            dense = Map("vector" -> r.getSeq[Float](2).toArray))).toIndexedSeq
        val slice0 = pts.filter(p =>
          ShardedCollectionStore.assignShard(p.id, 2) == 0)
        CollectionStores.register("probe_reshard_wire",
          InMemoryCollectionStore.single("embeddings", rdesc, slice0))
        val wsrv = new CollectionGrpcServer("probe_reshard_wire").start()
        try {
          val pageSz = 128
          val wireMember = new GrpcCollectionStore(wsrv.host, wsrv.port,
            pageSize = pageSz)
          val local1 = InMemoryCollectionStore.single("embeddings", rdesc,
            pts.filter(p => ShardedCollectionStore.assignShard(p.id, 2) == 1))
          val shW = new ShardedCollectionStore(IndexedSeq(wireMember, local1))
          val batch = 256
          val req0 = wsrv.requestsServed.get()
          time(s"reshard_over_wire slice=${slice0.size} batch=$batch pageSize=$pageSz") {
            shW.reshard(Seq(InMemoryCollectionStore.single(
              "embeddings", rdesc, IndexedSeq.empty)), migrationBatch = batch)
            shW.shards.last.pointCount("embeddings")
          }
          val reqs = wsrv.requestsServed.get() - req0
          val movers0 = slice0.count(p =>
            ShardedCollectionStore.assignShard(p.id, 3) == 2)
          val scanPages = (slice0.size + pageSz - 1) / pageSz
          val batches = (movers0 + batch - 1) / batch
          val fetchChunks = (movers0 + pageSz - 1) / pageSz
          val naive = batches * scanPages // positional loop per batch
          println(s"[probe] reshard_wire slice=${slice0.size} movers=$movers0 " +
            s"requests=$reqs (scanPages=$scanPages fetchChunks=$fetchChunks " +
            s"deletes=$batches; naive positional form ~$naive fetch requests " +
            s"EACH re-serializing the batch ids) bytesIn=${wsrv.bytesIn.get()} " +
            s"bytesOut=${wsrv.bytesOut.get()}")
          // bound: scan pages + id-chunk fetches + a constant handful of
          // frames per batch (pointCount/logSize/delete) + fixed setup
          require(reqs.toInt <= scanPages + fetchChunks + 8 * batches + 24,
            s"reshard-over-wire requests not bounded: $reqs " +
              s"(scanPages=$scanPages fetchChunks=$fetchChunks batches=$batches)")
        } finally wsrv.stop()
      }
      // TARGETED FACET SECOND PASS over the wire: the threshold merge's
      // facetCountsFor asks are served SERVER-side — per asked shard one
      // request whose response holds at most the asked values' rows,
      // never a histogram pull
      {
        import graft.sources.{CollectionGrpcServer, CollectionStores,
          GrpcCollectionStore, InMemoryCollectionStore}
        val fdesc = graft.collections.CollectionDescriptor("f", Seq.empty)
        // the adversarial shape: one value spread thin across EVERY
        // shard under 40 decoys — the merge must issue targeted asks
        val fpts = (0 until 180).map { i =>
          val v = if (i < 60) "X" else s"decoy${(i - 60) % 40}"
          graft.sources.Point(f"$i%05d", Some(s"""{"v":"$v"}"""), Map.empty)
        }
        val fsrvs = (0 until 3).map { s =>
          CollectionStores.register(s"probe_facet_wire$s",
            InMemoryCollectionStore.single("f", fdesc, fpts.filter(p =>
              ShardedCollectionStore.assignShard(p.id, 3) == s)))
          new CollectionGrpcServer(s"probe_facet_wire$s").start()
        }
        try {
          val shF = new ShardedCollectionStore(fsrvs.map(srv =>
            new GrpcCollectionStore(srv.host, srv.port)).toIndexedSeq)
          val req0 = fsrvs.map(_.requestsServed.get())
          val out0 = fsrvs.map(_.bytesOut.get())
          val page = shF.facetCounts("f", "v", 3)
          require(page.head._1 == "X", s"facet head wrong: $page")
          val reqs = fsrvs.map(_.requestsServed.get()).zip(req0).map(t => t._1 - t._2)
          val outs = fsrvs.map(_.bytesOut.get()).zip(out0).map(t => t._1 - t._2)
          println(s"[probe] facet_wire targeted: per-shard requests=${reqs.mkString(",")} " +
            s"bytesOut=${outs.mkString(",")} (page + targeted ask, both " +
            s"server-side; a histogram pull would ship every distinct value)")
          // a couple of threshold rounds x (page + targeted ask) + the
          // descriptor fetch — NEVER O(distinct values) requests or a
          // full-histogram response
          require(reqs.forall(_ <= 8L),
            s"facet merge issued unbounded per-shard requests: $reqs")
        } finally fsrvs.foreach(_.stop())
      }
    }

    // index-freshness overlay cost shape: ONE store + IVF sidecar sealed
    // at ingest, then mutation batches appended with NO rebuild — the
    // probed serve must stay exact while paying only O(tail): replay
    // opens tail segments alone (position-named), the folded tail is
    // cached per (builtAt, head), and the per-query overlay is an
    // in-memory mask + merge. Serve time should grow far slower than the
    // tail (the fold caches) and the primaries must stay closed.
    section("fresh") {
      import graft.sources.{ParquetCollectionStore, Point, SearchSpec}
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"),
          to_json(struct(col("label"))).as("payload"),
          col("embedding").as("vector"))
      val q = emb.filter(col("id") === "7")
        .select(col("vector").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val spec = SearchSpec("vector", q, "cosine", 10)
      val dir = java.nio.file.Files.createTempDirectory("probe-fresh").toString
      val idx = graft.ops.Ann.buildIvf(
        emb.withColumn("vector", col("vector").cast("array<double>")),
        "id", "vector", nlist = 8, maxIter = 0)
      ParquetCollectionStore.write(emb, dir, numFiles = 8, withLog = true)
      ParquetCollectionStore.writeIvfSidecar(
        idx.clustered.select("id", "payload", "vector", "cluster"),
        idx.centroids, dir, field = "vector")
      idx.clustered.unpersist()
      val seed = emb.limit(2048).collect().map(r =>
        (r.getString(0), r.getSeq[Float](2).toArray))
      var tail = 0
      var store = new ParquetCollectionStore(dir, "embeddings",
        graft.collections.Collections.homogeneousDescriptor, ivfNprobe = 2)
      for (t <- Seq(0, 128, 512, 2048).map(math.min(_, seed.length)).distinct) {
        if (t > tail) {
          val batch = (tail until t).map { i =>
            Point(s"${900000000L + i}", Some("""{"label":3}"""),
              dense = Map("vector" -> seed(i)._2))
          }.toIndexedSeq
          store = store.appended("embeddings", batch)
          tail = t
        }
        time(s"fresh_serve tail=$t (5 queries)") {
          (1 to 5).map(_ =>
            store.searchPoints("embeddings", spec, withPayload = false,
              vectorFields = Nil).size.toLong).sum
        }
        println(s"[probe] tail=$t primary files opened: " +
          s"${store.filesOpened.get} (clusters=${store.ivfClustersTouched.size})")
      }
    }

    // transport comparison: ONE backend, both wire clients. Scan cost is
    // O(transfer) on both; the binary frames carry vectors as packed
    // fixed32 (4 bytes/component) where JSON ships ~13 text bytes — the
    // protobuf transport should scan measurably faster and search at
    // parity (search ships k rows either way).
    section("wire") {
      import graft.sources._
      import graft.collections.Collections
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"),
          to_json(struct(col("label"))).as("payload"),
          col("embedding").as("vector"))
      CollectionStores.register("probe_wire",
        InMemoryCollectionStore.fromRows(emb, "embeddings",
          Collections.homogeneousDescriptor))
      val http = new CollectionHttpServer("probe_wire").start()
      val bin = new CollectionGrpcServer("probe_wire").start()
      val rest = new RestCollectionStore(http.baseUrl)
      val grpc = new GrpcCollectionStore(bin.host, bin.port)
      val q = emb.filter(col("id") === "7")
        .select(col("vector").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val spec = SearchSpec("vector", q, "cosine", 10)
      for (_ <- 1 to 2) { // second round = warmed JIT, the honest number
        time("wire rest_scan (full fetch x3)") {
          (1 to 3).map(_ => rest.queryPoints("embeddings", 0L,
            rest.pointCount("embeddings"), withPayload = true,
            Seq("vector"), None).size.toLong).sum
        }
        time("wire grpc_scan (full fetch x3)") {
          (1 to 3).map(_ => grpc.queryPoints("embeddings", 0L,
            grpc.pointCount("embeddings"), withPayload = true,
            Seq("vector"), None).size.toLong).sum
        }
        time("wire rest_search (x20)") {
          (1 to 20).map(_ => rest.searchPoints("embeddings", spec,
            withPayload = false, Nil).size.toLong).sum
        }
        time("wire grpc_search (x20)") {
          (1 to 20).map(_ => grpc.searchPoints("embeddings", spec,
            withPayload = false, Nil).size.toLong).sum
        }
      }
      http.stop(); bin.stop()
    }

    // text-sidecar cost shape: the corpus grows xN but the queried
    // tokens stay RARE (planted only on the original rows), so the
    // candidate set is FIXED while postings grow linearly — serve cost
    // should stay near-flat (2-of-16 posting buckets + a fixed
    // id-stats-pruned fetch) while the brute filtered scan grows ~xN.
    section("storetext") {
      import graft.sources._
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vid"),
          col("label"), col("embedding"))
      def corpusN(n: Int) = replicate(emb, "vid", n)
        .select(col("vid").cast("string").as("id"),
          to_json(struct(concat(
            lit("alpha w"), col("label"),
            when(col("vid") < 2000, lit(" orig")).otherwise(lit(" rep")))
            .as("body"))).as("payload"),
          col("embedding").as("vector"))
      val q = emb.filter(col("vid") === 7)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val spec = SearchSpec("vector", q, "cosine", 10)
      val pf = PayloadFilter(Seq(
        PayloadCondition("body", "match_text", "orig w3")), Nil, None)
      for (n <- Seq(1, 2, 4, 8)) {
        val c = corpusN(n)
        val dir = java.nio.file.Files
          .createTempDirectory(s"probe-tidx-x$n").toString
        ParquetCollectionStore.write(c, dir, numFiles = 8)
        ParquetCollectionStore.writeTextSidecar(c, dir, key = "body")
        val idx = new ParquetCollectionStore(dir, "embeddings",
          graft.collections.Collections.homogeneousDescriptor)
        val brute = new ParquetCollectionStore(dir, "embeddings",
          graft.collections.Collections.homogeneousDescriptor)
        // hide the sidecar from the brute arm by filtering via the base
        // walk (same machine, same files — only the access path differs)
        time(s"storetext pruned x$n (5 queries)") {
          (1 to 5).map(_ => idx.searchPointsFiltered("embeddings", spec,
            withPayload = false, vectorFields = Nil, pf).size.toLong).sum
        }
        time(s"storetext brute x$n (1 query)") {
          brute.queryPointsFiltered("embeddings", 0L,
            brute.pointCount("embeddings"), withPayload = false, Nil,
            None, pfilter = pf).size.toLong
        }
        println(s"[probe] x$n pruned primary files=${idx.filesOpened.get} " +
          s"postings files=${idx.textFilesOpened.get} " +
          s"brute files=${brute.filesOpened.get}")
      }
    }

    // NB classifier cost shape: the model is FIXED-size (buckets x
    // classes) whatever the corpus, so TRAIN grows ~linearly in tokens
    // (one feature pass + one partial agg) and CLASSIFY per-doc cost
    // stays flat under replication (one feature pass + a broadcast join
    // against the same model) — classifying xN with a model trained on
    // x1 is exactly the production shape (fit on a seed, score the pool)
    section("classify") {
      val model = graft.ops.Classify.train(corpus(1), "text", "lang",
        buckets = 512)
      for (n <- Seq(1, 2, 4, 8)) {
        val c = corpus(n).persist(); c.count()
        time(s"classify x$n") {
          graft.ops.Classify.classify(c, model, "doc_id", "text").count()
        }
        c.unpersist()
      }
      for (n <- Seq(1, 4)) {
        time(s"train x$n") {
          graft.ops.Classify.train(corpus(n), "text", "lang",
            buckets = 512).weights.count()
        }
      }
    }

    // round-11 curation ops under replication: URL dedup and novelty are
    // one-to-two-shuffle aggregations (linear), minhash decontam holds a
    // FIXED benchmark while the corpus grows (the production shape — its
    // broadcast side never scales with N), and the budget prefix sum
    // adds one sort + one partition-keyed window
    section("curation") {
      val bench = base.select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text"))
      for (n <- Seq(1, 2, 4, 8)) {
        val c = corpus(n).persist(); c.count()
        time(s"url_dedup x$n") {
          val url = concat(lit("https://"), col("source"),
            lit(".example.com/d/"), (col("doc_id") % 1000).cast("string"))
          graft.ops.Url.dedupByUrl(c.withColumn("url", url),
            "doc_id", "url").count()
        }
        time(s"novelty x$n") {
          graft.ops.TextAnalysis.noveltyScore(c, "doc_id", "text").count()
        }
        time(s"decontam_minhash x$n") {
          graft.ops.Dedup.minhashContaminated(c, "doc_id", "text",
            bench, "doc_id", "text", threshold = 0.8).count()
        }
        time(s"budget_select x$n") {
          graft.ops.Ranks.selectWithinBudget(
            c.select(col("doc_id"), length(col("text")).as("tok")),
            col("tok"), budget = 1000000L * n,
            (col("doc_id") % 91).desc, col("doc_id").asc).count()
        }
        // online near-dup check: the INDEX grows xN while the incoming
        // batch stays fixed — the ingest shape. Probe cost = one map-side
        // pass over the fixed batch + a band-key join whose candidate
        // volume is bounded by LSH bucket design, so it should grow far
        // slower than the index (with a stored partitionBy(band, bandkey)
        // layout the join becomes pruned point lookups)
        time(s"neardup_ingest x$n") {
          val idx = graft.ops.Dedup.minhashBandIndex(c, "doc_id", "text")
          graft.ops.Dedup.nearDupsAgainstIndex(bench, "doc_id", "text",
            idx, threshold = 0.8).count()
        }
        c.unpersist()
      }
    }

    // training-order layout ops: both are distributed range-sorts (plus a
    // model-sized offset pass), so per-row cost should stay FLAT as the
    // corpus replicates — the property that distinguishes them from a
    // single-partition row_number window, which would collapse to one
    // task and grow linearly in wall-clock
    section("ordering") {
      for (n <- Seq(1, 2, 4, 8)) {
        val c = corpus(n).select("doc_id", "source").persist(); c.count()
        time(s"epoch_shuffle x$n") {
          graft.ops.Layout.epochShuffle(c.select("doc_id"), "doc_id",
            epochs = 2, salt = "probe").count()
        }
        time(s"interleave x$n") {
          graft.ops.Layout.interleaveBySource(c, "doc_id", "source",
            salt = "probe").count()
        }
        c.unpersist()
      }
    }

    section("dedup") { for (n <- Seq(1, 2, 4)) {
      val c = corpus(n).persist(); c.count()
      time(s"minhash x$n") {
        graft.ops.Dedup.minhashDedup(c, "doc_id", "text", 0.8).count()
      }
      time(s"ngram x$n") {
        graft.ops.Dedup.ngramJaccardPairs(c, "doc_id", "text", Seq("lang", "source"), 0.8).count()
      }
      time(s"repetition x$n") {
        graft.ops.TextAnalysis.repetitionRatio(c, "doc_id", "text").count()
      }
      time(s"decontam x$n") {
        graft.ops.TextAnalysis.contaminatedDocs(
          c.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
          c.filter(col("doc_id") % 97 === 0), "text").count()
      }
      // line dedup over the replicated corpus: replication multiplies the
      // duplicate-line volume (every line of every copy collides), the
      // worst case for the per-fingerprint window — growth should stay
      // ~linear in total lines
      time(s"line_dedup x$n") {
        val toks = filter(split(col("text"), " "), t => length(t) > 0)
        val nLines = greatest(ceil(size(toks) / lit(8.0)).cast("int"), lit(1))
        val lined = c.select(col("doc_id"),
          array_join(transform(sequence(lit(0), nLines - 1),
            g => array_join(slice(toks, g * lit(8) + lit(1), lit(8)), " ")),
            "\n").as("text"))
        graft.ops.Dedup.dedupLines(lined, "doc_id", "text").count()
      }
      c.unpersist()
    } }
    // 8x/16x flatness sweep (recorded in BASELINE.md): dedup_clusters'
    // ROUND COUNT must stay ~log(component diameter) as replication
    // densifies every component (replicas are exact copies, so components
    // grow wider, not deeper), and the LSH band filter must keep constant
    // selectivity (identical vectors replicate into the same buckets)
    section("clusters") { for (n <- Seq(1, 2, 4, 8, 16)) {
      val c = corpus(n).persist(); c.count()
      time(s"dedup_clusters x$n") {
        val rows = graft.ops.Dedup.dedupClusters(c, "doc_id", "text",
          Seq("lang", "source"), 0.8).count()
        println(s"[probe] clusters x$n rounds=${graft.ops.Dedup.lastCcRounds}")
        rows
      }
      // the scale-true composition: LSH-bounded edges feeding the same
      // CC loop — pair volume must track the LSH bucket design (linear-ish
      // in the planted-dup density), not the blocking-key quadratic
      time(s"dedup_clusters_minhash x$n") {
        val rows = graft.ops.Dedup.dedupClustersMinhash(c, "doc_id", "text", 0.8).count()
        println(s"[probe] clusters_minhash x$n rounds=${graft.ops.Dedup.lastCcRounds}")
        rows
      }
      c.unpersist()
    } }
    val hom = graft.collections.Collections.homogeneous(spark, "/root/testdata/sf0.1")
      .select(col("id"), col("vector"))
    val qv = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    def homN(n: Int): DataFrame =
      (0 until n).map(i =>
        hom.select(concat(col("id"), lit(s"_$i")).as("id"), col("vector")))
        .reduce(_ union _)
    section("lsh") { for (n <- Seq(1, 2, 4, 8, 16)) {
      val h = homN(n).persist(); val total = h.count()
      time(s"lsh_candidates x$n") {
        val cand = graft.ops.Ann.lshBuckets(h, "vector", qv.length, 16)
          .filter(graft.ops.Ann.lshBandMatch(qv)).count()
        println(f"[probe] lsh x$n selectivity=${cand.toDouble / total}%.4f ($cand of $total)")
        cand
      }
      h.unpersist()
    } }
    // embedding near-dup pair volume under LSH banding: replicas land in
    // the same buckets, so verified pair count should grow with planted
    // duplicate density (quadratic in replication WITHIN a bucket family),
    // while wall time tracks bucket volume, not corpus^2
    section("emblsh") {
      for (n <- Seq(1, 2, 4)) {
        val h = homN(n)
          .select(col("id"), col("vector").cast("array<double>").as("v"))
          .persist()
        h.count()
        time(s"embedding_lsh_pairs x$n") {
          graft.ops.Dedup.embeddingNearDupLsh(h, "id", "v", threshold = 0.999).count()
        }
        h.unpersist()
      }
      // candidate VOLUME under test (16/4) vs production (64/4) band
      // sizing: threshold = -1 keeps every banded candidate, so the count
      // is exactly the pair volume the exact-cosine verify stage must
      // pay — the Dedup.scala sizing contract as a measured number
      val h1 = homN(1)
        .select(col("id"), col("vector").cast("array<double>").as("v"))
        .persist()
      val total = h1.count()
      for (nbits <- Seq(16, 64)) {
        time(s"emblsh_candidates nbits=$nbits bands=4") {
          val cand = graft.ops.Dedup.embeddingNearDupLsh(
            h1, "id", "v", threshold = -1.0, nbits = nbits, bands = 4).count()
          println(f"[probe] emblsh nbits=$nbits candidate_pairs=$cand of n=$total (ratio ${cand.toDouble / (total.toDouble * (total - 1) / 2)}%.6f of all pairs)")
          cand
        }
      }
      h1.unpersist()
    }
    // events-based probe: watermark-dedup bounded form over replicated events
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    def events(n: Int): DataFrame = replicate(ev.select(col("event_id"),
      col("ts"), col("user_id"), col("event_type"), col("value"),
      col("props")), "user_id", n)
    section("stream") { for (n <- Seq(1, 2, 4)) {
      val e = events(n).persist(); e.count()
      time(s"stream_dedup x$n") {
        graft.streaming.EventsStream.dedupWithinHorizonBatch(e).count()
      }
      e.unpersist()
    } }
    // ANN quality/cost probe: recall@10 of the approximate serving paths
    // against exact brute force, sf0.1 corpus (2k vectors, 64-dim), 20
    // deterministic queries. The oracle gates prove the ANN arithmetic is
    // EXACT (hash-matched); this measures the RECALL the approximation
    // trades for its pruning — the number a user sizes nprobe/bands with.
    section("recall") {
      import graft.functions.vec
      val corpus = graft.collections.Collections.homogeneous(spark, "/root/testdata/sf0.1")
        .select(col("id"), col("vector").cast("array<double>").as("v"))
        .persist()
      corpus.count()
      val idx = graft.ops.Ann.buildIvf(corpus, "id", "v", nlist = 8, maxIter = 5)
      idx.clustered.persist().count()
      val sigs = graft.ops.Ann.lshBuckets(corpus, "v", 64, nbits = 16).persist()
      sigs.count()
      val qids = (0 until 20).map(i => (i * 97 % 2000).toString)
      val qvecs = qids.map(id => id -> corpus.filter(col("id") === id)
        .select(col("v")).head().getSeq[Double](0).toSeq).toMap
      def top(df: DataFrame): Set[String] =
        df.collect().map(_.getString(0)).toSet
      val truth = qids.map(id => id ->
        top(graft.ops.Ann.bruteForce(corpus, "id", "v", vec(qvecs(id)), 10))).toMap
      def meanRecallVs(truthMap: Map[String, Set[String]], tag: String)(
          method: String => DataFrame): Unit = {
        val r = qids.map(id => top(method(id)).intersect(truthMap(id)).size / 10.0)
        println(f"[probe] recall@10 $tag: ${r.sum / r.size}%.3f")
      }
      def meanRecall(tag: String)(method: String => DataFrame): Unit =
        meanRecallVs(truth, tag)(method)
      for (nprobe <- Seq(1, 2, 4, 8))
        meanRecall(s"ivf nlist=8 nprobe=$nprobe")(id =>
          idx.search(vec(qvecs(id)), 10, nprobe))
      meanRecall("lsh nbits=16 bands=4")(id =>
        graft.ops.Ann.searchLshStored(sigs, "id", "v", qvecs(id), 10))
      // graph tier: LSH entries + one adjacency hop — recall vs the same
      // entry budget without the graph shows what the stored edges buy
      val adj = graft.ops.Ann.buildKnnGraph(corpus, "id", "v", dim = 64,
        m = 8).persist()
      adj.count()
      for (h <- Seq(1, 2, 3))
        meanRecall(s"knn-graph m=8 entryK=3 hops=$h")(id =>
          graft.ops.Ann.searchKnnGraph(adj, sigs.filter(col("id") =!= id),
            "id", "v", qvecs(id), 10, entryK = 3, hops = h))
      // beam-pruned deep walk: visited grows by <=beam per hop instead of
      // *m — the recall each beam width retains of the unpruned union
      // (whose width at hops=3 would be entryK * m^3)
      for (h <- Seq(2, 3); b <- Seq(4, 8, 16))
        meanRecall(s"knn-graph beam=$b entryK=3 hops=$h")(id =>
          graft.ops.Ann.searchKnnGraph(adj, sigs.filter(col("id") =!= id),
            "id", "v", qvecs(id), 10, entryK = 3, hops = h, beam = b))
      meanRecall("knn-graph full-bucket rerank baseline")(id =>
        graft.ops.Ann.searchLshStored(sigs.filter(col("id") =!= id),
          "id", "v", qvecs(id), 10))
      // NN-DESCENT refinement: same m, same serve budget (entryK/hops/
      // beam identical to the rows above) — recall deltas isolate what
      // the neighbors-of-neighbors rounds add to ADJACENCY QUALITY,
      // the ceiling the LSH edge proposal sets
      for (rounds <- Seq(1, 2)) {
        val refined = graft.ops.Ann.nnDescent(adj, corpus, "id", "v",
          m = 8, rounds = rounds).persist()
        refined.count()
        for (h <- Seq(1, 2, 3))
          meanRecall(s"knn-descent rounds=$rounds m=8 entryK=3 hops=$h")(id =>
            graft.ops.Ann.searchKnnGraph(refined,
              sigs.filter(col("id") =!= id),
              "id", "v", qvecs(id), 10, entryK = 3, hops = h))
        for (b <- Seq(8, 16))
          meanRecall(s"knn-descent rounds=$rounds beam=$b hops=3")(id =>
            graft.ops.Ann.searchKnnGraph(refined,
              sigs.filter(col("id") =!= id),
              "id", "v", qvecs(id), 10, entryK = 3, hops = 3, beam = b))
        // HNSW-style LAYERED entry over the SAME refined graph at the
        // SAME serve budget (visited <= 1 + hops*beam vs LSH's
        // entryK + hops*beam): the greedy upper-layer walk replaces the
        // hash-collision entries — the recall delta is pure entry
        // quality. Walk cost: <= steps*mUpper scored upper nodes.
        if (rounds == 1) {
          val sample = graft.ops.Ann.entryLayer(corpus, "id", "v",
            sampleN = 256).persist()
          sample.count()
          val uadj = graft.ops.Ann.exactKnnGraph(sample, "id", "v", m = 4)
            .persist()
          uadj.count()
          for (b <- Seq(8, 16))
            meanRecall(s"hnsw-entry descent beam=$b hops=3 (entries<=15 + ${3 * b} beam)")(id =>
              graft.ops.Ann.searchKnnGraphLayered(refined, uadj, sample,
                sigs.filter(col("id") =!= id),
                "id", "v", qvecs(id), 10, entryE = 3, hops = 3, beam = b))
          sample.unpersist(); uadj.unpersist(): Unit
        }
        refined.unpersist(): Unit
      }
      // multiprobe: same index, Hamming-1 band keys — the recall a user
      // buys with bands*(1+r) point lookups instead of bands
      val bandIdx = graft.ops.Ann
        .lshBandIndex(sigs.select(col("id"), col("bucket")), "id").persist()
      bandIdx.count()
      meanRecall("lsh multiprobe hamming-1")(id =>
        graft.ops.Ann.searchLshStoredMultiprobe(bandIdx, sigs, "id", "v",
          qvecs(id), 10))
      // PQ: dot-metric truth (the rerank metric); candidateK is the
      // margin dial — ADC-only (ck=10) shows the raw quantization loss,
      // rerank margins show how cheaply exactness comes back for 16x
      // smaller candidate-stage bytes (64 floats -> 4 codes + 16x16
      // codebook amortized)
      val dotTruth = qids.map(id => id ->
        top(graft.ops.Ann.bruteForce(corpus, "id", "v", vec(qvecs(id)), 10,
          metric = "dot"))).toMap
      val pq = graft.ops.Pq.fit(corpus, "id", "v", dim = 64, m = 4,
        ksub = 16, maxIter = 1, seed = 42L)
      val pcodes = graft.ops.Pq.encode(corpus, "v", pq)
        .select("id", "pcode").persist()
      pcodes.count()
      for (ck <- Seq(10, 50, 100, 200))
        meanRecallVs(dotTruth, s"pq m=4 ksub=16 candidateK=$ck")(id =>
          graft.ops.Pq.searchPqStored(pcodes, corpus, "id", "v", pq,
            qvecs(id), 10, ck))
      // the compression/recall dial: m=8 doubles code bytes (4 -> 8 per
      // row, still 32x smaller than the vector) and halves subspace dim
      val pq8 = graft.ops.Pq.fit(corpus, "id", "v", dim = 64, m = 8,
        ksub = 16, maxIter = 1, seed = 42L)
      val pcodes8 = graft.ops.Pq.encode(corpus, "v", pq8)
        .select("id", "pcode").persist()
      pcodes8.count()
      for (ck <- Seq(10, 50, 100))
        meanRecallVs(dotTruth, s"pq m=8 ksub=16 candidateK=$ck")(id =>
          graft.ops.Pq.searchPqStored(pcodes8, corpus, "id", "v", pq8,
            qvecs(id), 10, ck))
      // binary quantization: the 1-bit tier (32x smaller than float32;
      // 8 bytes/row vs pq m=8's 8 code bytes but with NO codebook and a
      // popcount candidate stage) — candidateK is the only recall dial
      val bits = graft.ops.Quant.packSignColumn(corpus, "v", "b")
        .select("id", "b_bits").persist()
      bits.count()
      for (ck <- Seq(50, 100, 200, 500))
        meanRecallVs(dotTruth, s"bq 1bit candidateK=$ck")(id =>
          graft.ops.Quant.searchStoredBits(bits, corpus, "id", "v", "b_bits",
            qvecs(id), 10, ck))
      // cascade: the bq page feeding an int8 cut — recall of the
      // composed tiers vs candidate budget (midK fixed at half the page)
      val codes = graft.ops.Quant.quantizeColumn(corpus, "v", "q8")
        .select("id", "q8_codes", "q8_scale").persist()
      codes.count()
      for (ck <- Seq(100, 200, 500))
        meanRecallVs(dotTruth, s"cascade bits->i8->full candidateK=$ck midK=${ck / 2}")(id =>
          graft.ops.Quant.cascadeSearch(bits, codes, corpus, "id", "v",
            "b_bits", "q8_codes", "q8_scale", qvecs(id), 10, ck / 2, ck))
      codes.unpersist()
      // corpus-calibrated (quantile-clipped) int8: the shared-scale
      // affine tier — same candidate-bytes budget as per-vector int8 but
      // ONE scale for the collection; candidateK is the recall dial
      val cal = graft.ops.Quant.calibrate(corpus, "v", quantile = 0.99)
      val calCodes = graft.ops.Quant
        .quantizeColumnCalibrated(corpus, "v", "cal", cal)
        .select("id", "cal_codes", "cal_csum").persist()
      calCodes.count()
      for (ck <- Seq(10, 50, 100))
        meanRecallVs(dotTruth, s"calibrated-i8 q=0.99 candidateK=$ck")(id =>
          graft.ops.Quant.searchCalibrated(calCodes, corpus, "id", "v",
            "cal_codes", "cal_csum", cal, 64, qvecs(id), 10, ck))
      calCodes.unpersist()
      // Matryoshka: prefix-dim candidates (16 of 64 dims = 1/4 bytes)
      val pref = corpus.select(col("id"), slice(col("v"), 1, 16).as("p16")).persist()
      pref.count()
      for (ck <- Seq(50, 100, 200))
        meanRecallVs(dotTruth, s"matryoshka d=16/64 candidateK=$ck")(id =>
          graft.ops.Search.matryoshkaSearch(pref, corpus, "id", "v", "p16",
            qvecs(id), 16, 10, ck))
      pref.unpersist()
      bits.unpersist()
      // residual vs raw codebooks at the same budget (m=4), nprobe=nlist
      // so IVF pruning costs nothing and the gap isolates the quantizer
      val clustered = idx.clustered
      val rawCodes = graft.ops.Pq.encode(clustered, "v", pq)
        .select("id", "pcode", "cluster").persist()
      rawCodes.count()
      val resFrame = graft.ops.Pq.residuals(clustered, idx.centroids, "v")
        .select(col("id"), col("cluster"), col("__res"))
      val pqRes = graft.ops.Pq.fit(resFrame, "id", "__res", dim = 64, m = 4,
        ksub = 16, maxIter = 1, seed = 42L)
      val resCodes = graft.ops.Pq.encode(resFrame, "__res", pqRes)
        .select("id", "pcode", "cluster").persist()
      resCodes.count()
      for (ck <- Seq(50, 100)) {
        meanRecallVs(dotTruth, s"ivfpq RAW m=4 nprobe=8 ck=$ck")(id =>
          graft.ops.Pq.searchIvfPqStored(rawCodes, idx.centroids, clustered,
            "id", "v", pq, qvecs(id), 10, nprobe = 8, ck))
        meanRecallVs(dotTruth, s"ivfpq RESIDUAL m=4 nprobe=8 ck=$ck")(id =>
          graft.ops.Pq.searchIvfPqResidual(resCodes, idx.centroids, clustered,
            "id", "v", pqRes, qvecs(id), 10, nprobe = 8, ck))
      }
      // drift recovery: a drifted cohort (every third vector re-embedded,
      // +1.5/dim, fresh d-prefixed ids) joins the corpus. Serving from the
      // STALE index (old centroids, drifted points assigned incrementally
      // via assignToCentroids) vs after a REFIT (buildIvf on the union) —
      // recall measured on drifted-cohort queries against brute force over
      // the full corpus. The gap is the number that tells an operator WHEN
      // assignToCentroids stops being enough and a refit pays for itself.
      val drifted = corpus.filter(col("id").cast("long") % 3 === 0)
        .select(concat(lit("d"), col("id")).as("id"),
          transform(col("v"), x => x + lit(1.5)).as("v"))
      val full = corpus.union(drifted).persist()
      full.count()
      val staleStored = graft.ops.Ann
        .assignToCentroids(full, "v", idx.centroids).persist()
      staleStored.count()
      val refit = graft.ops.Ann.buildIvf(full, "id", "v", nlist = 8, maxIter = 5)
      refit.clustered.persist().count()
      val dqids = (0 until 20).map(i => s"d${(i * 99 % 667) * 3}")
      val dqvecs = dqids.map(id => id -> full.filter(col("id") === id)
        .select(col("v")).head().getSeq[Double](0).toSeq).toMap
      val dtruth = dqids.map(id => id ->
        top(graft.ops.Ann.bruteForce(full, "id", "v", vec(dqvecs(id)), 10))).toMap
      def meanRecallDrift(tag: String)(method: String => DataFrame): Unit = {
        val r = dqids.map(id => top(method(id)).intersect(dtruth(id)).size / 10.0)
        println(f"[probe] recall@10 $tag: ${r.sum / r.size}%.3f")
      }
      meanRecallDrift("drift STALE index nprobe=2")(id =>
        graft.ops.Ann.searchIvfStored(staleStored, idx.centroids,
          "id", "v", vec(dqvecs(id)), 10, nprobe = 2))
      meanRecallDrift("drift REFIT index nprobe=2")(id =>
        graft.ops.Ann.searchIvfStored(refit.clustered, refit.centroids,
          "id", "v", vec(dqvecs(id)), 10, nprobe = 2))
      // the cost half of the trade: a coherent drift blob piles onto the
      // nearest STALE centroid (skewed mega-cluster -> every query probing
      // it scans the whole blob); refit rebalances cluster sizes and with
      // them the per-probe candidate volume
      def skew(tag: String, stored: DataFrame): Unit = {
        val sizes = stored.groupBy(col("cluster")).count()
          .collect().map(_.getLong(1)).sorted.reverse
        println(s"[probe] drift cluster sizes $tag: max=${sizes.head} " +
          s"top2=${sizes.take(2).sum} of ${sizes.sum} (${sizes.mkString(",")})")
      }
      skew("STALE", staleStored)
      skew("REFIT", refit.clustered)
      corpus.unpersist(); idx.clustered.unpersist(); sigs.unpersist()
      full.unpersist(); staleStored.unpersist(); refit.clustered.unpersist()
      ()
    }
    // connector ETL probe: the full CDC stream pipeline (upsert-log source
    // -> filter/re-label transform -> per-epoch atomic collection sink)
    // over an Nx-replicated source store. Epoch planning is log-position
    // arithmetic and per-epoch work is proportional to the entries
    // admitted, so wall time must track log size ~linearly; the
    // admission-controlled drain must split the same log into bounded
    // epochs whose row counts sum to it.
    // the CLUSTERED-embedding recall fixture: every table in the
    // `recall` section runs on worst-case UNIFORM vectors (BASELINE.md
    // notes this per table) — nprobe/beam sizing lifted from them does
    // not transfer to real embeddings, which cluster. This section
    // re-measures the serving dials on a SEEDED mixture of Gaussians
    // (16 unit-norm centers, sigma 0.15, deterministic scala.util.Random
    // — no new data deps), same corpus size as sf0.1's embeddings.
    def clusteredRecall(label: String, n: Int, dim: Int, nCenters: Int,
                        nlist: Int, sampleN: Int,
                        graphNbits: Int = 16): Unit = {
      import graft.functions.vec
      val rnd = new scala.util.Random(42L)
      def unitVec(): Array[Double] = {
        val a = Array.fill(dim)(rnd.nextGaussian())
        val nn = math.sqrt(a.map(x => x * x).sum)
        a.map(_ / nn)
      }
      val centers = Array.fill(nCenters)(unitVec())
      val rows = (0 until n).map { i =>
        val c = centers(i % nCenters)
        val p = c.map(x => x + 0.15 * rnd.nextGaussian())
        (i.toString, p.toSeq)
      }
      import spark.implicits._
      println(s"[probe] $label fixture: n=$n dim=$dim centers=$nCenters " +
        s"nlist=$nlist sampleN=$sampleN")
      val corpus = rows.toDF("id", "v").persist()
      corpus.count()
      val qids = (0 until 20).map(i => (i * 97 % n).toString)
      val qvecs = qids.map(id => id -> corpus.filter(col("id") === id)
        .select(col("v")).head().getSeq[Double](0).toSeq).toMap
      def top(df: DataFrame): Set[String] =
        df.collect().map(_.getString(0)).toSet
      val truth = qids.map(id => id ->
        top(graft.ops.Ann.bruteForce(corpus, "id", "v", vec(qvecs(id)), 10))).toMap
      def meanRecall(tag: String)(method: String => DataFrame): Unit = {
        val r = qids.map(id => top(method(id)).intersect(truth(id)).size / 10.0)
        println(f"[probe] $label@10 $tag: ${r.sum / r.size}%.3f")
      }
      val idx = graft.ops.Ann.buildIvf(corpus, "id", "v", nlist = nlist,
        maxIter = 5)
      idx.clustered.persist().count()
      for (nprobe <- Seq(1, 2, 4, 8))
        meanRecall(s"ivf nlist=$nlist nprobe=$nprobe")(id =>
          idx.search(vec(qvecs(id)), 10, nprobe))
      val sigs = graft.ops.Ann.lshBuckets(corpus, "v", dim, nbits = 16)
        .persist()
      sigs.count()
      meanRecall("lsh nbits=16 bands=4")(id =>
        graft.ops.Ann.searchLshStored(sigs, "id", "v", qvecs(id), 10))
      // graph proposal bands must scale with the corpus: at 16 bits /
      // 4 bands a band key is 4 bits (16 buckets) — fine at 2,000
      // points, a quadratic pair explosion at 20,000 (the transient
      // disk-fill this parameter exists to prevent)
      val adj = graft.ops.Ann.buildKnnGraph(corpus, "id", "v", dim = dim,
        m = 8, nbits = graphNbits).persist()
      adj.count()
      val refined = graft.ops.Ann.nnDescent(adj, corpus, "id", "v",
        m = 8, rounds = 1).persist()
      refined.count()
      for (b <- Seq(8, 16)) {
        meanRecall(s"knn-graph beam=$b entryK=3 hops=3")(id =>
          graft.ops.Ann.searchKnnGraph(adj, sigs.filter(col("id") =!= id),
            "id", "v", qvecs(id), 10, entryK = 3, hops = 3, beam = b))
        meanRecall(s"knn-descent beam=$b hops=3")(id =>
          graft.ops.Ann.searchKnnGraph(refined, sigs.filter(col("id") =!= id),
            "id", "v", qvecs(id), 10, entryK = 3, hops = 3, beam = b))
      }
      val sample = graft.ops.Ann.entryLayer(corpus, "id", "v",
        sampleN = sampleN).persist()
      sample.count()
      val uadj = graft.ops.Ann.exactKnnGraph(sample, "id", "v", m = 4)
        .persist()
      uadj.count()
      for (b <- Seq(8, 16))
        meanRecall(s"hnsw-entry descent beam=$b hops=3 (entries<=15 + ${3 * b} beam)")(id =>
          graft.ops.Ann.searchKnnGraphLayered(refined, uadj, sample,
            sigs.filter(col("id") =!= id),
            "id", "v", qvecs(id), 10, entryE = 3, hops = 3, beam = b))
      // TRUE insertion-order per-segment HNSW (round 15): one sequential
      // graph per segment with the full log-N hierarchy — the structure
      // whose ABSENCE made the batch family collapse on this fixture
      val segs = math.max(2, n / 5000)
      val hnswEdges = graft.ops.Ann.buildHnsw(corpus, "id", "v", m = 16,
        efConstruction = 64, numSegments = segs).persist()
      val edgeCount = hnswEdges.count()
      println(s"[probe] $label hnsw-insert build: segments=$segs m=16 " +
        s"efC=64 edges=$edgeCount")
      // full corpus (query node included), comparable to the IVF rows
      for (ef <- Seq(16, 32, 64))
        meanRecall(s"hnsw-insert ef=$ef segments=$segs (per-segment graphs)")(id =>
          graft.ops.Ann.searchHnsw(corpus, hnswEdges, "id", "v",
            qvecs(id), 10, efSearch = ef, numSegments = segs))
      // FILTERED HNSW (round 15): the accepting walk on the same graphs
      // — rejected nodes navigate, only matching ids enter the beam —
      // with the store serve's inverse-selectivity ef widening
      // (ef/fraction). Recall vs the filtered brute force; the rows
      // grade how the widening holds as the filter thins the answers.
      for ((tag, keep, frac) <- Seq(
        ("75pct", (id: String) => id.toInt % 4 >= 1, 0.75),
        ("10pct", (id: String) => id.toInt % 10 == 0, 0.10))) {
        val fCorpus = corpus.filter(
          udf(keep).apply(col("id"))).persist()
        fCorpus.count()
        val truthF = qids.map(id => id -> top(graft.ops.Ann.bruteForce(
          fCorpus, "id", "v", vec(qvecs(id)), 10))).toMap
        for (ef <- Seq(32, 64)) {
          val widened = math.ceil(ef / frac).toInt
          val r = qids.map { id =>
            top(graft.ops.Ann.searchHnsw(corpus, hnswEdges, "id", "v",
              qvecs(id), 10, efSearch = widened, numSegments = segs,
              accept = keep)).intersect(truthF(id)).size / 10.0
          }
          println(f"[probe] $label@10 hnsw-filtered $tag ef=$ef " +
            f"(widened=$widened): ${r.sum / r.size}%.3f")
        }
        fCorpus.unpersist(): Unit
      }
      hnswEdges.unpersist()
      corpus.unpersist(); idx.clustered.unpersist(); sigs.unpersist()
      adj.unpersist(); refined.unpersist(); sample.unpersist()
      uadj.unpersist()
      ()
    }
    section("recallc") {
      clusteredRecall("recallc", n = 2000, dim = 64, nCenters = 16,
        nlist = 8, sampleN = 256)
    }
    // the LOAD-BEARING shape: 10x the corpus at a realistic embedding
    // dim (256) with 64 clusters — the dial numbers users lift must be
    // measured here, not on the small fixture (same protocol, same
    // seeds; any guidance that changes is called out in BASELINE.md)
    section("recallc2") {
      clusteredRecall("recallc2", n = 20000, dim = 256, nCenters = 64,
        nlist = 32, sampleN = 1024, graphNbits = 64)
    }

    // the STORE-SERVED HNSW latency curve (round 15): serve cost of the
    // graph walk vs the exact store scan as the corpus replicates x1-x8
    // (2k -> 16k rows), unfiltered AND filtered. The walk's cost is
    // ~ef·m·levels resident-vector touches per segment (flat-ish in
    // corpus size once segments are resident); the brute serve scans the
    // corpus. The filtered rows also show the PLANNER crossover: the
    // narrow filter (label=3, ~10%) rides the exact micro-path below
    // max(4·window, 1024) matched ids and flips to the accepting walk
    // as replication pushes it past the dial.
    section("storehnsw") {
      import graft.sources.{ParquetCollectionStore, PayloadCondition, PayloadFilter, SearchSpec}
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id").cast("string").as("id"),
          to_json(struct(col("label"))).as("payload"),
          col("embedding").as("vector"))
      def embN(n: Int): DataFrame = replicate(emb, "id", n)
      val q = emb.filter(col("id") === "7")
        .select(col("vector").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val spec = SearchSpec("vector", q, "cosine", 10)
      val broad = PayloadFilter(
        Seq(PayloadCondition("label", "lte", "7")), Nil, None)
      val narrow = PayloadFilter(
        Seq(PayloadCondition("label", "eq", "3")), Nil, None)
      for (n <- Seq(1, 2, 4, 8)) {
        val c = embN(n)
        val dir = java.nio.file.Files
          .createTempDirectory(s"probe-hnsw-x$n").toString
        ParquetCollectionStore.write(c, dir, numFiles = 8)
        val t0 = System.nanoTime()
        ParquetCollectionStore.writeHnswSidecar(c, dir, field = "vector",
          m = 8, efConstruction = 64, numSegments = 4)
        println(f"[probe] store_hnsw x$n build: ${(System.nanoTime() - t0) / 1e9}%.1f s")
        // a count-only label index: the acceptance set resolves from it,
        // the pre-filter arm cannot (the graph serve owns the filter)
        ParquetCollectionStore.writePayloadSidecar(c.select("id", "payload"),
          dir, key = "label", kind = "int")
        val walk = new ParquetCollectionStore(dir, "embeddings",
          graft.collections.Collections.homogeneousDescriptor, hnswEf = 64)
        val brute = new ParquetCollectionStore(dir, "embeddings",
          graft.collections.Collections.homogeneousDescriptor)
        time(s"store_hnsw_walk x$n (5 queries)") {
          (1 to 5).map(_ =>
            walk.searchPoints("embeddings", spec, withPayload = false,
              vectorFields = Nil).size.toLong).sum
        }
        time(s"store_hnsw_brute x$n (5 queries)") {
          (1 to 5).map(_ =>
            brute.searchPoints("embeddings", spec, withPayload = false,
              vectorFields = Nil).size.toLong).sum
        }
        time(s"store_hnsw_filtered_broad x$n (5 queries)") {
          (1 to 5).map(_ =>
            walk.searchPointsFiltered("embeddings", spec,
              withPayload = false, vectorFields = Nil, broad).size.toLong).sum
        }
        time(s"store_hnsw_filtered_narrow x$n (5 queries)") {
          (1 to 5).map(_ =>
            walk.searchPointsFiltered("embeddings", spec,
              withPayload = false, vectorFields = Nil, narrow).size.toLong).sum
        }
        println(s"[probe] store_hnsw x$n planner: " +
          s"walks=${walk.hnswFilteredWalkServes.get()} " +
          s"exact=${walk.hnswFilteredExactServes.get()} " +
          s"primaries=${walk.filesOpened.get()}")
      }
    }

    // QUANTIZED HNSW serve at the recallc2 shape (20k x d256, 64
    // centers — the clustered fixture the SERVING DIALS tables use):
    // the int8-code walk + exact margin rescore vs the full-precision
    // walk — recall at equal ef, resident vector bytes of each tier
    // (the serve-RAM row: the quantized tier is the backend's
    // quantized-in-RAM memory configuration).
    section("quanthnsw") {
      import graft.sources.{ParquetCollectionStore, SearchSpec}
      val rnd = new scala.util.Random(42L)
      val dimQ = 256
      val nQ = 20000
      def unitVec(): Array[Double] = {
        val a = Array.fill(dimQ)(rnd.nextGaussian())
        val nn = math.sqrt(a.map(x => x * x).sum)
        a.map(_ / nn)
      }
      val centers = Array.fill(64)(unitVec())
      val rows = (0 until nQ).map { i =>
        val c = centers(i % 64)
        (i.toString, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
      }
      import spark.implicits._
      val c = rows.toDF("id", "vector")
      val dirQ = java.nio.file.Files
        .createTempDirectory("probe-quanthnsw").toString
      ParquetCollectionStore.write(
        c.withColumn("payload",
          org.apache.spark.sql.functions.lit("{}"))
          .select("id", "payload", "vector"), dirQ, numFiles = 8)
      ParquetCollectionStore.writeHnswSidecar(c, dirQ, field = "vector",
        m = 16, efConstruction = 64, numSegments = 4)
      ParquetCollectionStore.writeHnswQuantizedSidecar(c, dirQ)
      val descQ = graft.collections.CollectionDescriptor("embeddings",
        Seq(graft.collections.DenseField("vector", dimQ)), named = false)
      val brute = new ParquetCollectionStore(dirQ, "embeddings", descQ)
      val qids = (0 until 20).map(i => (i * 97 % nQ).toString)
      val qvecs = qids.map { id =>
        id -> rows(id.toInt)._2.map(_.toDouble)
      }.toMap
      val truth = qids.map { id =>
        id -> brute.searchPoints("embeddings",
          SearchSpec("vector", qvecs(id), "cosine", 10),
          withPayload = false, Nil).map(_._1.id).toSet
      }.toMap
      for (ef <- Seq(64, 128)) {
        val full = new ParquetCollectionStore(dirQ, "embeddings", descQ,
          hnswEf = ef)
        val quant = new ParquetCollectionStore(dirQ, "embeddings", descQ,
          hnswEf = ef, hnswCandidateK = 2 * ef)
        def recall(st: ParquetCollectionStore): Double = {
          val r = qids.map { id =>
            st.searchPoints("embeddings",
              SearchSpec("vector", qvecs(id), "cosine", 10),
              withPayload = false, Nil)
              .map(_._1.id).toSet.intersect(truth(id)).size / 10.0
          }
          r.sum / r.size
        }
        time(s"quanthnsw full ef=$ef (20 queries)") {
          println(f"[probe] quanthnsw@10 full ef=$ef: ${recall(full)}%.3f " +
            s"residentBytes=${full.hnswResidentBytes}")
          20L
        }
        time(s"quanthnsw quant ef=$ef candK=${2 * ef} (20 queries)") {
          println(f"[probe] quanthnsw@10 quant ef=$ef: ${recall(quant)}%.3f " +
            s"residentBytes=${quant.hnswResidentBytes}")
          20L
        }
        println(s"[probe] quanthnsw serve-RAM ratio ef=$ef: " +
          f"${full.hnswResidentBytes.toDouble / math.max(quant.hnswResidentBytes, 1L)}%.1f" +
          "x smaller quantized")
      }
    }

    // QUANTIZED POOLED MULTI-VECTOR serve at the recallc2 shape
    // (20k points x 2 vectors x d256): MaxSim recall@10 of the int8
    // pooled-key walk vs the full-precision pooled walk at honest dials
    // — the equal-recall-at-a-fraction-of-the-RAM claim, recorded for
    // the POOLED tier the way quanthnsw records it for the dense one.
    // Late-interaction corpora are the fattest per point (rows carry
    // whole vector SETS), so the resident-bytes ratio here is the one
    // an operator actually sizes against.
    section("quantmulti") {
      import graft.sources.{ParquetCollectionStore, SearchSpec}
      val rnd = new scala.util.Random(42L)
      val dimQ = 256
      val nQ = 20000
      def unitVec(): Array[Double] = {
        val a = Array.fill(dimQ)(rnd.nextGaussian())
        val nn = math.sqrt(a.map(x => x * x).sum)
        a.map(_ / nn)
      }
      val centers = Array.fill(64)(unitVec())
      val rows = (0 until nQ).map { i =>
        val c = centers(i % 64)
        val v = c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat)
        (i.toString, Seq(v.toSeq, v.reverse.toSeq))
      }
      import spark.implicits._
      val c = rows.toDF("id", "mv")
      val dirQ = java.nio.file.Files
        .createTempDirectory("probe-quantmulti").toString
      ParquetCollectionStore.write(
        c.withColumn("payload",
          org.apache.spark.sql.functions.lit("{}"))
          .select("id", "payload", "mv"), dirQ, numFiles = 8)
      ParquetCollectionStore.writeMultiHnswSidecar(c, dirQ, field = "mv",
        multiColumn = "mv", m = 16, efConstruction = 64, numSegments = 4)
      ParquetCollectionStore.writeMultiHnswQuantizedSidecar(c, dirQ,
        multiColumn = "mv")
      val descQ = graft.collections.CollectionDescriptor("embeddings",
        Seq(graft.collections.MultiField("mv", dimQ)), named = false)
      val brute = new ParquetCollectionStore(dirQ, "embeddings", descQ)
      val qids = (0 until 20).map(i => (i * 97 % nQ).toString)
      def mspecOf(id: String, k: Int = 10): SearchSpec = {
        val qm = rows(id.toInt)._2
          .map(_.map(_.toDouble).toArray).toArray
        SearchSpec("mv", SearchSpec.poolRows(qm), "dot", k,
          multiQuery = Some(qm))
      }
      val truth = qids.map { id =>
        id -> brute.searchPoints("embeddings", mspecOf(id),
          withPayload = false, Nil).map(_._1.id).toSet
      }.toMap
      for (ef <- Seq(64, 128)) {
        val full = new ParquetCollectionStore(dirQ, "embeddings", descQ,
          hnswEf = ef)
        // candidateK dials the rescore margin AND routes the walk to
        // the codes tier when present
        val quant = new ParquetCollectionStore(dirQ, "embeddings", descQ,
          hnswEf = ef, hnswCandidateK = 2 * ef)
        def recall(st: ParquetCollectionStore): Double = {
          val r = qids.map { id =>
            st.searchPoints("embeddings", mspecOf(id),
              withPayload = false, Nil)
              .map(_._1.id).toSet.intersect(truth(id)).size / 10.0
          }
          r.sum / r.size
        }
        time(s"quantmulti full ef=$ef (20 queries)") {
          println(f"[probe] quantmulti@10 full ef=$ef: ${recall(full)}%.3f " +
            s"residentBytes=${full.hnswResidentBytes}")
          20L
        }
        time(s"quantmulti quant ef=$ef candK=${2 * ef} (20 queries)") {
          println(f"[probe] quantmulti@10 quant ef=$ef: ${recall(quant)}%.3f " +
            s"residentBytes=${quant.hnswResidentBytes}")
          20L
        }
        println(s"[probe] quantmulti serve-RAM ratio ef=$ef: " +
          f"${full.hnswResidentBytes.toDouble / math.max(quant.hnswResidentBytes, 1L)}%.1f" +
          "x smaller quantized")
      }
    }

    // the FULL TOPOLOGY (placement x replication x wire) at the recallc2
    // shape (20k x d256): what replication actually COSTS and BUYS —
    //  - write amplification: a write-all batch into r replicas does r x
    //    the member work (inherent; the probe prices the slope);
    //  - failover: a dead wire replica costs ONE failed probe, then the
    //    suspect leaves the rotation — steady-state reads match a
    //    healthy set;
    //  - quorum: readConsistency=r pays r member reads per query (the
    //    divergence-masking dial's price, linear by construction);
    //  - reshard over replicated members: the migration's point-write
    //    volume (sum of member-log growth) = moved points x replica
    //    count x 2 (delete at the leaver + upsert at the new owner),
    //    measured so the SERVING DIALS table can state it.
    section("topology") {
      import graft.sources._
      import graft.collections.Collections
      val dim = 256
      val nRows = 20000
      val rnd = new scala.util.Random(42L)
      def v(): Array[Float] = {
        val a = Array.fill(dim)(rnd.nextGaussian().toFloat)
        val nn = math.sqrt(a.map(x => x.toDouble * x).sum).toFloat
        a.map(_ / nn)
      }
      val pts = (0 until nRows).map(i =>
        Point(f"$i%06d", Some(s"""{"label":${i % 10}}"""),
          dense = Map("vector" -> v()))).toIndexedSeq
      val batches = (0 until 10).map(b => (0 until 1000).map(i =>
        Point(f"n$b%02d$i%06d", Some("""{"label":3}"""),
          dense = Map("vector" -> v()))).toIndexedSeq)
      val qv = pts(7).dense("vector").map(_.toDouble)
      val spec = SearchSpec("vector", qv, "cosine", 10)
      def memRep() = InMemoryCollectionStore.single("embeddings",
        Collections.homogeneousDescriptor, pts)
      // write amplification: slope vs replica count — the member-write
      // volume is EXACTLY r x the batch rows (write-all by definition);
      // the timing shows the wall-clock slope on one node
      for (r <- Seq(1, 2, 3)) {
        val rs = new ReplicatedCollectionStore(
          IndexedSeq.fill(r)(memRep()))
        val before = rs.replicas.map(_.logSize("embeddings")).sum
        time(s"topology_write_all r=$r (10 x 1000-pt batches)") {
          batches.foreach(b => rs.upsertPoints("embeddings", b))
          rs.pointCount("embeddings")
        }
        println(s"[probe] topology write volume r=$r: " +
          s"${rs.replicas.map(_.logSize("embeddings")).sum - before} " +
          s"member writes for 10000 batch rows")
      }
      // failover: one probe, then steady state matches a healthy set
      val sock = new java.net.ServerSocket(0)
      val deadPort = sock.getLocalPort
      sock.close()
      val withDead = new ReplicatedCollectionStore(IndexedSeq(
        new GrpcCollectionStore("127.0.0.1", deadPort), memRep()))
      val healthy = new ReplicatedCollectionStore(IndexedSeq(memRep()))
      // warm the scoring path so the comparison isolates topology cost
      (1 to 5).foreach(_ => healthy.searchPoints("embeddings", spec,
        withPayload = false, Nil))
      time("topology_failover_first_read (pays the probe)") {
        withDead.searchPoints("embeddings", spec, withPayload = false,
          Nil).size.toLong
      }
      time("topology_failover_steady (20 queries, suspect skipped)") {
        (1 to 20).map(_ => withDead.searchPoints("embeddings", spec,
          withPayload = false, Nil).size.toLong).sum
      }
      time("topology_healthy_baseline (20 queries)") {
        (1 to 20).map(_ => healthy.searchPoints("embeddings", spec,
          withPayload = false, Nil).size.toLong).sum
      }
      println(s"[probe] topology failovers=${withDead.readFailovers.get} " +
        s"(one probe for the whole run)")
      // quorum price: rc=1 vs rc=3 on three replicas
      for (rc <- Seq(1, 3)) {
        val rs = new ReplicatedCollectionStore(
          IndexedSeq.fill(3)(memRep()), readConsistency = rc)
        time(s"topology_read rc=$rc (20 queries)") {
          (1 to 20).map(_ => rs.searchPoints("embeddings", spec,
            withPayload = false, Nil).size.toLong).sum
        }
      }
      // reshard over replicated members: point-write volume via member
      // log growth (every routed delete/upsert lands on BOTH replicas)
      def rset(own: IndexedSeq[Point]) = new ReplicatedCollectionStore(
        IndexedSeq.fill(2)(InMemoryCollectionStore.single("embeddings",
          Collections.homogeneousDescriptor, own)))
      val byShard = pts.groupBy(p =>
        ShardedCollectionStore.assignShard(p.id, 2))
      val sets = (0 until 2).map(i => rset(byShard.getOrElse(i, IndexedSeq.empty)))
      val sh = new ShardedCollectionStore(sets)
      def logVolume(s: ShardedCollectionStore): Long =
        s.shards.map {
          case r: ReplicatedCollectionStore =>
            r.replicas.map(_.logSize("embeddings")).sum
          case o => o.logSize("embeddings")
        }.sum
      val before = logVolume(sh)
      val moved = pts.count(p =>
        ShardedCollectionStore.assignShard(p.id, 3) == 2)
      time("topology_reshard 2->3 shards x 2 replicas") {
        sh.reshard(Seq(rset(IndexedSeq.empty)))
        sh.pointCount("embeddings")
      }
      val volume = logVolume(sh) - before
      println(s"[probe] topology reshard: moved=$moved points, " +
        s"point-write volume=$volume " +
        s"(= moved x replicas x 2 ± dual-write window: " +
        s"${moved * 2 * 2} nominal)")
    }

    // RESTORED-TOPOLOGY SERVE: storage snapshot + restore wall-time vs
    // member count, and the recovery-readiness property an operator
    // sizes DR against — the FIRST search on every restored member is
    // graph-served with the primaries closed (no rebuild, no re-seal).
    // The copy is whole-file (the distcp shape): wall time tracks total
    // bytes, ~flat in member count at fixed corpus — at 100 TB each
    // member's archive moves as an object-store server-side copy in
    // parallel, so the slope an operator plans against is bytes/member,
    // not members.
    section("snaprestore") {
      import graft.sources._
      import graft.collections.{CollectionDescriptor, DenseField, Snapshot}
      import spark.implicits._
      val dim = 64
      val nRows = 8000
      val desc = CollectionDescriptor("embeddings",
        Seq(DenseField("vector", dim)), named = false)
      val rnd = new scala.util.Random(7L)
      val rows = (0 until nRows).map { i =>
        (f"$i%06d", s"""{"label":${i % 10}}""",
          Array.fill(dim)(rnd.nextGaussian().toFloat))
      }
      val qv = rows(7)._3.map(_.toDouble)
      val spec = SearchSpec("vector", qv, "cosine", 10)
      for (m <- Seq(1, 2, 4)) {
        val byShard = rows.groupBy(r =>
          ShardedCollectionStore.assignShard(r._1, m))
        val members = (0 until m).map { i =>
          val d = java.nio.file.Files
            .createTempDirectory(s"probe-snap-m$m-$i").toString
          val df = byShard.getOrElse(i, Seq.empty)
            .toDF("id", "payload", "vector")
          ParquetCollectionStore.write(df, d, numFiles = 2, withLog = true)
          ParquetCollectionStore.writeHnswSidecar(df, d, field = "vector",
            m = 8, efConstruction = 32, numSegments = 2)
          new ParquetCollectionStore(d, "embeddings", desc, hnswEf = 512)
        }
        val store: CollectionStore =
          if (m == 1) members.head else new ShardedCollectionStore(members)
        CollectionStores.register(s"probe_snap_src_$m", store)
        val arch = java.nio.file.Files
          .createTempDirectory(s"probe-snap-arch$m").toString
        time(s"snaprestore_create m=$m (${nRows} x d$dim)") {
          Snapshot.createStorage(s"probe_snap_src_$m", "embeddings", arch)
          nRows.toLong
        }
        // the DR drill: metadata-only adjudication of the archive —
        // manifests + markers + tiny text reads, so wall time is
        // ~flat in BOTH corpus bytes and member count (the number an
        // operator needs to justify drilling EVERY backup, not a sample)
        time(s"snaprestore_drill m=$m") {
          val fs = Snapshot.verifyStorage(arch)
          require(fs.isEmpty, s"fresh archive must drill clean: $fs")
          nRows.toLong
        }
        val dst = java.nio.file.Files
          .createTempDirectory(s"probe-snap-dst$m").toString
        time(s"snaprestore_restore m=$m") {
          Snapshot.restoreStorage(spark, arch, s"probe_snap_rst_$m",
            "embeddings", dst, hnswEf = 512)
          nRows.toLong
        }
        val rst = CollectionStores.get(s"probe_snap_rst_$m")
        time(s"snaprestore_first_search m=$m") {
          rst.searchPoints("embeddings", spec, withPayload = false, Nil)
            .size.toLong
        }
        val mems = rst match {
          case sh: ShardedCollectionStore => sh.shards
          case p => IndexedSeq(p)
        }
        mems.foreach { mm =>
          val p = mm.asInstanceOf[ParquetCollectionStore]
          require(p.hnswSegmentsLoaded.get() > 0L,
            s"restored member must serve graph-side (m=$m)")
          require(p.filesOpened.get() == 0L,
            s"restored member opened primaries (m=$m)")
        }
        println(s"[probe] snaprestore m=$m: every restored member " +
          "graph-served, primaries closed")
      }
    }

    // ONLINE ANN MAINTENANCE cost shape at the recallc2 shape
    // (20k x d256): what a mutated collection pays per absorbed batch
    // (one touched-segment/cluster state load + per-point work) vs the
    // offline rebuild it replaces between optimizes — the dial for
    // "how chunky should ingest batches be".
    section("maintain") {
      import graft.sources._
      import graft.collections.Collections
      val dim = 256
      val nRows = 20000
      val rnd = new scala.util.Random(42L)
      def v(): Array[Float] = {
        val a = Array.fill(dim)(rnd.nextGaussian().toFloat)
        val nn = math.sqrt(a.map(x => x.toDouble * x).sum).toFloat
        a.map(_ / nn)
      }
      import spark.implicits._
      val rows = (0 until nRows).map(i =>
        (f"$i%06d", s"""{"label":${i % 10}}""", v()))
      val df = rows.toDF("id", "payload", "vector")
      val dir = java.nio.file.Files
        .createTempDirectory("probe-maintain").toString
      ParquetCollectionStore.write(df, dir, numFiles = 8, withLog = true)
      val t0 = System.nanoTime()
      ParquetCollectionStore.writeHnswSidecar(df, dir, field = "vector",
        m = 8, efConstruction = 64, numSegments = 4)
      println(f"[probe] maintain hnsw FULL BUILD 20k: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val idx = graft.ops.Ann.buildIvf(
        df.withColumn("vector", col("vector").cast("array<double>")),
        "id", "vector", nlist = 32, maxIter = 0)
      ParquetCollectionStore.writeIvfSidecar(
        idx.clustered.select("id", "payload", "vector", "cluster"),
        idx.centroids, dir, field = "vector")
      idx.clustered.unpersist()
      var st = new ParquetCollectionStore(dir, "embeddings",
        Collections.homogeneousDescriptor, hnswEf = 64, ivfNprobe = 4)
      for (b <- 0 until 4) {
        val batch = (0 until 256).map(i =>
          Point(f"n$b%02d$i%06d", Some("""{"label":3}"""),
            dense = Map("vector" -> v()))).toIndexedSeq
        time(s"maintain absorb batch=$b (256 pts, hnsw+ivf)") {
          st = st.appended("embeddings", batch)
          256L
        }
      }
      // both families still index-served with empty tails post-churn
      val q = rows(7)._3.map(_.toDouble)
      val spec = SearchSpec("vector", q, "cosine", 10)
      time("maintain post-churn hnsw serve (5 queries)") {
        (1 to 5).map(_ => st.searchPoints("embeddings", spec,
          withPayload = false, Nil).size.toLong).sum
      }
      println(s"[probe] maintain tails: hnsw=${st.hnswTailRescored.get} " +
        s"ivf(before ivf serve)=${st.ivfTailRescored.get} " +
        s"incInserts hnsw=0-per-instance (see batches) " +
        s"primaries=${st.filesOpened.get}")
      // a DELETE batch is an O(batch) flag append
      val delIds = (0 until 256).map(i => f"${i * 7}%06d").toSet
      time("maintain delete batch (256 ids, tombstone)") {
        st = st.removed("embeddings", delIds)
        256L
      }
      time("maintain post-delete hnsw serve (5 queries)") {
        (1 to 5).map(_ => st.searchPoints("embeddings", spec,
          withPayload = false, Nil).size.toLong).sum
      }
      // TEXT + GEO absorb cost (round 17 — the fifth/sixth maintained
      // families) at 20k docs: per-batch cost = the touched token
      // buckets' consolidation/appends + one driver-local extraction
      // job (text), and the touched cells' work (geo)
      locally {
        val dirT = java.nio.file.Files
          .createTempDirectory("probe-maintain-tg").toString
        val docs = (0 until nRows).map { i =>
          val words = (0 until 20).map(j => s"w${(i * 31 + j * 7) % 500}")
          (f"$i%06d",
            s"""{"body":"${words.mkString(" ")}","loc":{"lat":${(i % 120) - 60}.25,"lon":${(i * 7) % 320 - 160}.25}}""")
        }.toDF("id", "payload")
        ParquetCollectionStore.write(docs, dirT, numFiles = 8,
          withLog = true)
        ParquetCollectionStore.writeTextSidecar(docs, dirT, key = "body",
          nBuckets = 16)
        ParquetCollectionStore.writeGeoSidecar(docs, dirT, key = "loc",
          bits = 4)
        var stT = new ParquetCollectionStore(dirT, "docs",
          graft.collections.CollectionDescriptor("docs", Seq.empty))
        for (b <- 0 until 4) {
          val batch = (0 until 256).map { i =>
            val words = (0 until 20).map(j => s"w${(i * 17 + j) % 500}")
            Point(f"t$b%02d$i%06d",
              Some(s"""{"body":"${words.mkString(" ")}","loc":{"lat":${(i % 100) - 50}.5,"lon":${i % 300 - 150}.5}}"""))
          }.toIndexedSeq
          time(s"maintain absorb batch=$b (256 docs, text+geo)") {
            stT = stT.appended("docs", batch)
            256L
          }
        }
        println(s"[probe] maintain text/geo tails: " +
          s"tidxInc+gidxInc counted per batch, primaries=${stT.filesOpened.get}")
      }

      // the BULK arm (round 17): trickle a corpus-sized reload through
      // upsert — with the arm OFF every page pays touched-segment
      // loads; ON, the geometric reseal schedule amortizes. Smaller
      // fixture (2k base, 2k reload in 250-pt pages) so both arms run
      // in probe time; the shape, not the absolute seconds, is the row.
      for (frac <- Seq("0", "0.5")) {
        sys.props("graft.bulkMaintainFraction") = frac
        try {
          val dirB = java.nio.file.Files
            .createTempDirectory(s"probe-bulk$frac").toString
          val base = rows.take(2000).toDF("id", "payload", "vector")
          ParquetCollectionStore.write(base, dirB, numFiles = 4,
            withLog = true)
          ParquetCollectionStore.writeHnswSidecar(base, dirB,
            field = "vector", m = 8, efConstruction = 64, numSegments = 4)
          var cur = new ParquetCollectionStore(dirB, "embeddings",
            Collections.homogeneousDescriptor, hnswEf = 64)
          var reseals = 0L
          time(s"maintain bulk reload 2k over 2k, pages=250, frac=$frac") {
            (0 until 8).foreach { b =>
              val page = (0 until 250).map(i =>
                Point(f"r$b%02d$i%06d", Some("""{"label":3}"""),
                  dense = Map("vector" -> v()))).toIndexedSeq
              val pre = cur
              cur = cur.appended("embeddings", page)
              reseals += pre.bulkReseals.get()
            }
            2000L
          }
          println(s"[probe] maintain bulk frac=$frac reseals=$reseals")
        } finally sys.props.remove("graft.bulkMaintainFraction"): Unit
      }

      // the PER-PARTITION HOTSPOT dial (round 18): churn aimed at ONE
      // segment of the 20k x d256 store — the corpus arm provably
      // sleeps (6k inserts on 20k), the 8-file LSM dial is never
      // reached (6 batches), yet the segment absorbs ~its own size.
      // frac=0.5 consolidates it mid-trickle (bounded inc files,
      // ghosts reclaimed on ITS schedule); frac=0 trickles every batch.
      for (frac <- Seq("0.5", "0")) {
        sys.props("graft.bulkMaintainFraction") = frac
        try {
          val dirH = java.nio.file.Files
            .createTempDirectory(s"probe-hot$frac").toString
          ParquetCollectionStore.write(df, dirH, numFiles = 8,
            withLog = true)
          ParquetCollectionStore.writeHnswSidecar(df, dirH,
            field = "vector", m = 8, efConstruction = 64, numSegments = 4)
          var cur = new ParquetCollectionStore(dirH, "embeddings",
            Collections.homogeneousDescriptor, hnswEf = 64)
          var hot = 0L
          // ids routed to segment 0 — the build's own seeded segment
          // hash, computed with the PUBLIC engine functions (the store
          // pins segCol == segOf, so this is the same assignment)
          val seg0Ids = spark.range(0, 40000)
            .select(format_string("h%07d", col("id")).as("id"))
            .filter(pmod(xxhash64(concat(col("id"), lit("#hnswseg42"))),
              lit(4)) === 0)
            .limit(6144).collect().map(_.getString(0)).toVector
          time(s"maintain hotspot seg0 6 x 1024-pt batches frac=$frac") {
            seg0Ids.grouped(1024).foreach { chunk =>
              val pre = cur
              cur = cur.appended("embeddings",
                chunk.map(id => Point(id, Some("""{"label":3}"""),
                  dense = Map("vector" -> v()))).toIndexedSeq)
              hot += pre.hotspotConsolidations.get()
            }
            6144L
          }
          val incFiles = Option(new java.io.File(
              s"$dirH/_hnsw/points/seg=0").listFiles())
            .getOrElse(Array.empty).count(_.getName.startsWith("inc-"))
          time(s"maintain hotspot post-churn serve frac=$frac (5 queries)") {
            (1 to 5).map(_ => cur.searchPoints("embeddings", spec,
              withPayload = false, Nil).size.toLong).sum
          }
          println(s"[probe] maintain hotspot frac=$frac: " +
            s"consolidations=$hot seg0IncFiles=$incFiles")
        } finally sys.props.remove("graft.bulkMaintainFraction"): Unit
      }
    }

    section("etl") {
      import graft.sources._
      import graft.collections.Collections
      val homC = Collections.homogeneous(spark, "/root/testdata/sf0.1")
      def collN(n: Int): DataFrame =
        (0 until n).map(i =>
          homC.select(concat(col("id"), lit(s"_$i")).as("id"),
            col("payload"), col("vector")))
          .reduce(_ union _)
      def runPipeline(srcName: String, dstName: String,
                      extra: Map[String, String] = Map.empty) = {
        val ckpt = java.nio.file.Files.createTempDirectory("graft-probe-etl").toString
        var r = spark.readStream.format("graft.sources.CollectionDataSource")
          .option("store", srcName).option("collection", "embeddings")
          .option("partitions", "8")
        extra.foreach { case (k, v) => r = r.option(k, v) }
        val q = r.load()
          .filter(graft.functions.json_get_int(col("payload"), "label") % 2 === 0)
          .select(col("id"),
            concat(lit("""{"etl":1,"orig":"""), col("payload"), lit("}")).as("payload"),
            col("vector"))
          .writeStream.format("graft.sources.CollectionDataSource")
          .option("store", dstName).option("collection", "embeddings")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
        q
      }
      for (n <- Seq(1, 2, 4, 8)) {
        val (srcName, dstName) = (s"probe_etl_src_$n", s"probe_etl_dst_$n")
        CollectionStores.register(srcName, InMemoryCollectionStore.fromRows(
          collN(n), "embeddings", Collections.homogeneousDescriptor))
        CollectionStores.register(dstName, InMemoryCollectionStore.single(
          "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
        time(s"dsv2_stream_pipeline x$n") {
          runPipeline(srcName, dstName)
          CollectionStores.get(dstName).pointCount("embeddings")
        }
        CollectionStores.remove(srcName); CollectionStores.remove(dstName)
      }
      // bounded-epoch drain: the x4 log capped at ~1/8 of its size per
      // epoch — same output, bounded peak batch size
      val (srcName, dstName) = ("probe_etl_src_cap", "probe_etl_dst_cap")
      CollectionStores.register(srcName, InMemoryCollectionStore.fromRows(
        collN(4), "embeddings", Collections.homogeneousDescriptor))
      CollectionStores.register(dstName, InMemoryCollectionStore.single(
        "embeddings", Collections.homogeneousDescriptor, IndexedSeq.empty))
      val logSize = CollectionStores.get(srcName).logSize("embeddings")
      val cap = math.max(1L, logSize / 8)
      time(s"dsv2_stream_pipeline x4 capped") {
        val q = runPipeline(srcName, dstName,
          Map("maxRowsPerBatch" -> cap.toString))
        val batches = q.recentProgress.filter(_.numInputRows > 0)
        println(s"[probe] capped drain: log=$logSize cap=$cap " +
          s"epochs=${batches.length} maxBatch=${batches.map(_.numInputRows).max} " +
          s"sum=${batches.map(_.numInputRows).sum}")
        CollectionStores.get(dstName).pointCount("embeddings")
      }
      CollectionStores.remove(srcName); CollectionStores.remove(dstName)
    }
    // Skew probe: a fact table where ONE key owns half the rows, joined
    // to a small dim with broadcast disabled (forcing the shuffle join a
    // 100 TB dim size would force) — plain shuffle join puts half the
    // table in one task; salting spreads the hot key over saltFactor
    // buckets. AQE's skew-split covers the same case at runtime; the
    // salt is the plan-level fix when the hot keys are KNOWN.
    section("skew") {
      val n = 4000000L
      val fact = spark.range(n).select(
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(pmod(col("id"), lit(1000L))).as("k"),
        col("id").as("payload"))
        .persist()
      fact.count()
      val dim = spark.range(1000).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("attr"))
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        for (skewJoin <- Seq(false, true)) {
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
          time(s"plain shuffle join (AQE skewJoin=$skewJoin)") {
            fact.join(dim, Seq("k")).groupBy(col("attr")).count().count()
          }
        }
        time("salted join (saltFactor=32)") {
          graft.ops.Skew.saltedJoin(fact, dim, "k", saltFactor = 32)
            .groupBy(col("attr")).count().count()
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
      }
      fact.unpersist()
    }
    section("tenant") {
      // the multitenancy posture: total data grows (more tenants), the
      // per-tenant slice stays constant -> a tenant's query cost must be
      // FLAT in collection size. Wall time AND rows actually read are
      // printed; the static partition filter is what keeps both flat.
      import graft.functions.vec
      val base = graft.collections.Collections
        .homogeneous(spark, "/root/testdata/sf0.1")
        .select(col("id"), col("vector"))
      val q = base.filter(col("id") === "0")
        .select(col("vector").cast("array<double>")).head().getSeq[Double](0)
      for (n <- Seq(4, 8, 16)) {
        val df = (0 until n).map(i => base.select(
            concat(lit(s"t$i#"), col("id")).as("id"), col("vector"),
            lit(s"t$i").as("tenant"))).reduce(_ unionByName _)
        val dir = java.nio.file.Files.createTempDirectory(s"graft-tenant-$n").toString
        graft.ops.Tenant.writeLayout(df, "tenant", dir)
        val layout = graft.ops.Tenant.readLayout(spark, dir)
        val t0 = System.nanoTime()
        val res = graft.ops.Tenant.searchTenant(
          layout, "tenant", "t0", "id", "vector", vec(q), k = 10)
        val rows = res.collect().length
        val wall = (System.nanoTime() - t0) / 1e9
        val scanned = res.queryExecution.executedPlan.collectLeaves()
          .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        println(f"[probe] tenant n=$n total=${df.count()} one-tenant query: " +
          f"$wall%.2f s, scanned=$scanned rows, top=$rows")
      }
    }
    section("spans") {
      // substring-span dedup scaling: the shingle groupBy + per-doc window
      // must scale near-linearly in corpus size (the hit join carries only
      // duplicated-shingle occurrences). Replicated copies double every
      // shingle's occurrence count without adding distinct keys.
      for (n <- Seq(1, 2, 4)) {
        val c = corpus(n)
        val t0 = System.nanoTime()
        val spans = graft.ops.Dedup.duplicatedSpans(c, "doc_id", "text", w = 3)
        val rows = spans.count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[probe] spans n=$n docs=${c.count()} spans=$rows $wall%.1f s")
      }
    }
    // cardinality-planned filtered search: corpus xN, the SAME selective
    // filter (one label of ten). The covering pre-filter path scans
    // EXACTLY the filter's matching rows (value-pruned postings); the
    // post-filter path scans nprobe/nlist of the cluster files. Rows
    // actually read are printed next to wall time — the slopes, not the
    // local-mode constants, are the 100 TB evidence for where the
    // full_scan_threshold dial should sit.
    section("planner") {
      import graft.functions.vec
      import graft.ops.{Ann, Planner}
      val homBase = graft.collections.Collections
        .homogeneous(spark, "/root/testdata/sf0.1")
        .withColumn("vector", col("vector").cast("array<double>"))
      val q = homBase.filter(col("id") === "3")
        .select(col("vector")).head().getSeq[Double](0)
      def run(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val rows = df.collect().length
        val wall = (System.nanoTime() - t0) / 1e9
        val scanned = df.queryExecution.executedPlan.collectLeaves()
          .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        println(f"[probe] $tag: $wall%.2f s, scanned=$scanned rows, top=$rows")
      }
      for (n <- Seq(1, 2, 4)) {
        val c = (0 until n).map(i =>
          homBase.select(concat(col("id"), lit(s"_$i")).as("id"),
            col("payload"), col("vector"))).reduce(_ union _)
        val idx = Ann.buildIvf(c, "id", "vector", nlist = 8, maxIter = 0)
        val dir = java.nio.file.Files.createTempDirectory(s"graft-planner-$n").toString
        idx.clustered.write.mode("overwrite").partitionBy("cluster").parquet(dir)
        val stored = spark.read.parquet(dir)
        val pidx = Planner.buildPayloadIndex(c, "id",
          graft.functions.json_get_int(col("payload"), "label"),
          covering = Seq("vector"))
        val pre = Planner.choose(pidx, Seq(7L), 0.2)
        println(s"[probe] planner x$n estimate=${pre.estimate}/${pre.total} " +
          s"prefilter=${pre.prefilter}")
        run(s"planner prefilter x$n (label=7)",
          Planner.searchFilteredPlanned(stored, idx.centroids, pidx,
            "id", "vector", Seq(7L),
            graft.functions.json_get_int(col("payload"), "label") === 7L,
            vec(q), k = 10, nprobe = 2))
        run(s"planner postfilter x$n (labels 0-4, nprobe=2)",
          Planner.searchFilteredPlanned(stored, idx.centroids, pidx,
            "id", "vector", Seq(0L, 1L, 2L, 3L, 4L),
            graft.functions.json_get_int(col("payload"), "label")
              .isin(0L, 1L, 2L, 3L, 4L),
            vec(q), k = 10, nprobe = 2))
        idx.clustered.unpersist()
      }
    }
    // Sparse inverted index under dimension-space growth: replicas add
    // postings in FRESH dimension buckets (dims shifted +64 per replica,
    // nBuckets > max dim so shifted dims land in their own partitions) —
    // the tenant-probe property in the sparse dimension: rows scanned by
    // a base-dims query must stay FLAT as the index grows xN.
    section("sparse") {
      import graft.ops.SparseIndex
      val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val pos = filter(
        transform(col("embedding"), (x, i) => struct(i.as("i"), x.as("x"))),
        s => s("x") > lit(0f))
      val ki = transform(pos, s => s("i").cast("int"))
      val kv = transform(pos, s => s("x").cast("double"))
      val nBuckets = 256
      val qRow = e.filter(col("vec_id") === 0)
        .select(ki.as("ki"), kv.as("kv")).head()
      val (qi, qv) = (qRow.getSeq[Int](0), qRow.getSeq[Double](1))
      for (n <- Seq(1, 2, 4)) {
        val c = (0 until n).map(i => e.select(
          concat(col("vec_id").cast("string"), lit(s"_$i")).as("id"),
          transform(ki, d => d + lit(64 * i)).as("ki"), kv.as("kv")))
          .reduce(_ union _)
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-sparse-probe-$n").toString
        SparseIndex.buildPostings(c, "id", "ki", "kv", nBuckets)
          .write.mode("overwrite").partitionBy("db").parquet(dir)
        val postings = spark.read.parquet(dir)
        val total = postings.count()
        val res = SparseIndex.searchPostings(postings, qi, qv, k = 10,
          nBuckets = nBuckets, excludeId = Some("0_0"))
        val t0 = System.nanoTime()
        res.collect()
        val wall = (System.nanoTime() - t0) / 1e9
        // unwrap AQE recursively: the final plan's leaves are query-stage
        // wrappers; the scans (and their metrics) live inside them
        def scanRows(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scanRows(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scanRows(s.plan)
          case leaf if leaf.children.isEmpty =>
            leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case o => o.children.map(scanRows).sum
        }
        val scanned = scanRows(res.queryExecution.executedPlan)
        println(f"[probe] sparse x$n postings=$total pruned-scan=$scanned rows " +
          f"($wall%.2f s)")
      }
    }
    // CDC log compaction under growing churn history: a long-lived
    // collection's change log scales with LIFETIME writes, not state —
    // compaction replaces the prefix with a snapshot so replay cost is
    // bounded by snapshot + retained tail. The probe grows churn history
    // xN (same state size throughout), reads the full log vs the
    // compacted tail vs the snapshot, and the curve should show full
    // replay growing with history while tail and snapshot stay flat.
    section("cdc") {
      import graft.sources._
      val hom = graft.collections.Collections
        .homogeneous(spark, "/root/testdata/sf0.1")
        .select(col("id"), col("payload"), col("vector")).persist()
      hom.count()
      val churnSlice = hom.limit(200).persist(); churnSlice.count()
      val churnIds = churnSlice.select("id").collect().map(_.getString(0)).toSet
      for (n <- Seq(1, 2, 4, 8)) {
        val store = s"cdcprobe_$n"
        CollectionStores.register(store, InMemoryCollectionStore.fromRows(
          hom, "embeddings",
          graft.collections.Collections.homogeneousDescriptor))
        // churn: 4n rounds of delete + re-ingest of the same 200-id slice
        // — history grows with n, surviving state does not
        for (_ <- 1 to 4 * n) {
          CollectionStores.update(store) {
            case mem: InMemoryCollectionStore =>
              mem.removed("embeddings", churnIds)
            case other => other
          }
          churnSlice.write.format("graft.sources.CollectionDataSource")
            .option("store", store).option("collection", "embeddings")
            .mode("append").save()
        }
        def cdcRead() = spark.read
          .format("graft.sources.CollectionDataSource")
          .option("store", store).option("collection", "embeddings")
          .option("cdc", "true").option("partitions", "8").load()
        val size = CollectionStores.get(store).logSize("embeddings")
        val t0 = System.nanoTime()
        val full = cdcRead().count()
        val fullW = (System.nanoTime() - t0) / 1e9
        // compact away everything but the last churn round (tail = 400)
        CollectionStores.update(store) {
          case mem: InMemoryCollectionStore =>
            mem.compacted("embeddings", size - 400)
          case other => other
        }
        val t1 = System.nanoTime()
        val tail = cdcRead().count()
        val tailW = (System.nanoTime() - t1) / 1e9
        // the snapshot a fresh reader bootstraps from: state, not history
        val t2 = System.nanoTime()
        val snap = spark.read.format("graft.sources.CollectionDataSource")
          .option("store", store).option("collection", "embeddings")
          .option("partitions", "8").load().count()
        val snapW = (System.nanoTime() - t2) / 1e9
        println(f"[probe] cdc x$n history=$size replay full=$full ($fullW%.2f s) " +
          f"compacted tail=$tail ($tailW%.2f s) snapshot=$snap ($snapW%.2f s)")
        CollectionStores.remove(store)
      }
      churnSlice.unpersist(); hom.unpersist(): Unit
    }
    // the LAKEHOUSE changelog's cost shape: churn history (delete +
    // re-upsert segments) grows xN while surviving state stays fixed.
    // Full replay must grow with history; the compacted tail replay and
    // the snapshot (primary-files) read must stay FLAT — segment files
    // position themselves by name, so a tail read never opens compacted
    // or non-overlapping segments, and compaction is an O(dropped-files)
    // metadata operation (primaries are already the checkpoint).
    section("pqlog") {
      import graft.sources._
      val hom = graft.collections.Collections
        .homogeneous(spark, "/root/testdata/sf0.1")
        .select(col("id"), col("payload"), col("vector")).persist()
      hom.count()
      val churnSlice = hom.limit(200).persist(); churnSlice.count()
      val churnIds = churnSlice.select("id").collect().map(_.getString(0)).toSet
      for (n <- Seq(1, 2, 4, 8)) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-pqlog-probe-$n").toString
        ParquetCollectionStore.write(hom, dir, numFiles = 4, withLog = true)
        val store = s"pqlogprobe_$n"
        CollectionStores.register(store, new ParquetCollectionStore(dir,
          "embeddings", graft.collections.Collections.homogeneousDescriptor))
        for (_ <- 1 to 4 * n) {
          CollectionStores.update(store) {
            case pq: ParquetCollectionStore =>
              pq.removed("embeddings", churnIds)
            case other => other
          }
          churnSlice.write.format("graft.sources.CollectionDataSource")
            .option("store", store).option("collection", "embeddings")
            .mode("append").save()
        }
        def cdcRead() = spark.read
          .format("graft.sources.CollectionDataSource")
          .option("store", store).option("collection", "embeddings")
          .option("cdc", "true").option("partitions", "8").load()
        val size = CollectionStores.get(store).logSize("embeddings")
        val t0 = System.nanoTime()
        val full = cdcRead().count()
        val fullW = (System.nanoTime() - t0) / 1e9
        val tC = System.nanoTime()
        CollectionStores.update(store) {
          case pq: ParquetCollectionStore =>
            pq.compacted("embeddings", size - 400)
          case other => other
        }
        val compW = (System.nanoTime() - tC) / 1e9
        val t1 = System.nanoTime()
        val tail = cdcRead().count()
        val tailW = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        val snap = spark.read.format("graft.sources.CollectionDataSource")
          .option("store", store).option("collection", "embeddings")
          .option("partitions", "8").load().count()
        val snapW = (System.nanoTime() - t2) / 1e9
        println(f"[probe] pqlog x$n history=$size replay full=$full ($fullW%.2f s) " +
          f"compact=($compW%.2f s) tail=$tail ($tailW%.2f s) snapshot=$snap ($snapW%.2f s)")
        CollectionStores.remove(store)
      }
      churnSlice.unpersist(); hom.unpersist(): Unit
    }
    // IVF re-fit drift policy: the drift statistic (assignment-distance
    // quantiles of a batch vs the build-time profile) probed under
    // injected shift, alongside the quantity it predicts — recall of the
    // STALE index on the drifted cohort vs a refit. The table turns the
    // re-fit threshold into a measured dial: ratios ~1 ⇒ keep assigning
    // incrementally; ratios past the dial ⇒ schedule ann_ivf_refit.
    section("drift") {
      import graft.functions.vec
      import graft.ops.Ann
      val c = graft.collections.Collections
        .homogeneous(spark, "/root/testdata/sf0.1")
        .select(col("id"), col("vector").cast("array<double>").as("v"))
        .persist()
      val total = c.count()
      val idx = Ann.buildIvf(c, "id", "v", nlist = 8, maxIter = 5)
      val probs = Seq(0.5, 0.9, 0.99)
      val buildQ = Ann.assignmentDistanceQuantiles(c, "v", idx.centroids, probs)
      println("[probe] drift build profile p50/p90/p99 = " +
        buildQ.map(x => f"$x%.3f").mkString(" / "))
      val qids = (0 until 10).map(i => (i * 211 % 2000).toString)
      for (s <- Seq(0.0, 0.5, 1.5, 3.0)) {
        val drifted = c.select(concat(lit("d"), col("id")).as("id"),
          transform(col("v"), x => x + lit(s)).as("v"))
        val rep = Ann.driftStatistic(drifted, "v", idx.centroids, buildQ, probs)
        val combined = c.union(drifted).persist(); combined.count()
        // stale serving: drifted points assigned to the OLD centroids
        val stale = Ann.assignToCentroids(combined, "v", idx.centroids)
          .persist(); stale.count()
        val maxShare = stale.groupBy(col("cluster")).count()
          .agg(max(col("count"))).head().getLong(0).toDouble / (2 * total)
        val refit = Ann.buildIvf(combined, "id", "v", nlist = 8, maxIter = 5)
        // queries drawn from the DRIFTED cohort; the self-match ranks
        // first in truth and in both serving paths, so it cancels
        def recall(search: Seq[Double] => DataFrame): Double = {
          val r = qids.map { qid =>
            val qv = drifted.filter(col("id") === s"d$qid")
              .select(col("v")).head().getSeq[Double](0).toSeq
            val truth = Ann.bruteForce(combined, "id", "v", vec(qv), 10)
              .collect().map(_.getString(0)).toSet
            search(qv).collect().map(_.getString(0)).toSet
              .intersect(truth).size / 10.0
          }
          r.sum / r.size
        }
        val staleR = recall(qv => Ann.searchIvfStored(
          stale, idx.centroids, "id", "v", vec(qv), 10, nprobe = 2))
        val refitR = recall(qv => refit.search(vec(qv), 10, nprobe = 2))
        println(f"[probe] drift shift=+$s%.1f/dim ratio p50/p90/p99 = " +
          rep.ratios.map(x => f"$x%.2f").mkString(" / ") +
          f" maxRatio=${rep.maxRatio}%.2f refit@1.2=${rep.shouldRefit()} " +
          f"staleMaxClusterShare=$maxShare%.2f " +
          f"recall stale=$staleR%.3f refit=$refitR%.3f")
        stale.unpersist(); combined.unpersist()
        refit.clustered.unpersist()
      }
      c.unpersist(): Unit
    }
    // geo cell index: the corpus grows Nx with every added replica's
    // points OUTSIDE the query box (lat shifted off-globe clamps to the
    // boundary cells, which the box's cover never includes) — rows
    // scanned by the pruned box query must stay FLAT, the tenant-probe
    // property in the spatial dimension.
    section("geo") {
      import graft.ops.Geo
      val evBase = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        .select(col("event_id"),
          col("user_id").cast("double").as("lat"),
          (col("event_id") % 180).cast("double").as("lon"))
      for (n <- Seq(1, 2, 4)) {
        val pts = replicate(evBase, "event_id", n, replicaCol = Some("__r"))
          .withColumn("lat", col("lat") + col("__r") * 1000.0).drop("__r")
        val dir = java.nio.file.Files.createTempDirectory(s"graft-geo-$n").toString
        Geo.writeCellLayout(pts, "lat", "lon", bits = 4, dir)
        val layout = Geo.readCellLayout(spark, dir)
        val t0 = System.nanoTime()
        val res = Geo.searchBox(layout, "lat", "lon", 10, 40, 20, 60, bits = 4)
        val hits = res.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val r2 = Geo.searchBox(layout, "lat", "lon", 10, 40, 20, 60, bits = 4)
        r2.collect()
        val scanned = r2.queryExecution.executedPlan.collectLeaves()
          .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        println(f"[probe] geo x$n total=${pts.count()} box query: $wall%.2f s, " +
          f"scanned=$scanned rows, hits=$hits")
      }
    }
    section("layout") {
      // what z-order buys at the FILE level: write lineitem z-ordered vs
      // sorted-by-partkey, run the same two-sided range predicate, and
      // count parquet row groups whose min/max stats admit the range.
      // The probe reads the per-file (min, max) of both dims back from the
      // written files — the exact stats a 100 TB scan would prune on.
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select((col("l_partkey") % 1024).cast("long").as("x"),
          (col("l_suppkey") % 1024).cast("long").as("y"))
      def pruneFraction(df: DataFrame, tag: String): Unit = {
        val dir = java.nio.file.Files.createTempDirectory(s"graft-layout-$tag").toString
        df.write.mode("overwrite").parquet(dir)
        val stats = spark.read.parquet(dir)
          .withColumn("f", org.apache.spark.sql.functions.input_file_name())
          .groupBy("f")
          .agg(min("x").as("x0"), max("x").as("x1"),
            min("y").as("y0"), max("y").as("y1"))
          .collect()
        // 1/8-wide range predicates: x-only, y-only, and both dims; a file
        // is admitted when its [min, max] stats intersect every predicate.
        // The number that matters is the WORST column: a linear sort is
        // perfect on its leading column and useless (100%) on the other,
        // z-order is moderately selective on BOTH.
        val (lo, hi) = (448L, 576L)
        def admitted(needX: Boolean, needY: Boolean): Int = stats.count { r =>
          val (x0, x1, y0, y1) =
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
          (!needX || !(x1 < lo || x0 > hi)) && (!needY || !(y1 < lo || y0 > hi))
        }
        val n = stats.length
        println(f"[probe] layout $tag: files=$n admitted " +
          f"xOnly=${admitted(true, false)} (${100.0 * admitted(true, false) / n}%.0f%%) " +
          f"yOnly=${admitted(false, true)} (${100.0 * admitted(false, true) / n}%.0f%%) " +
          f"both=${admitted(true, true)} (${100.0 * admitted(true, true) / n}%.0f%%)")
      }
      pruneFraction(graft.ops.Layout
        .zorderLayout(li, "x", "y", bits = 10, numPartitions = 32)
        .select("x", "y"), "zorder")
      pruneFraction(li.repartitionByRange(32, col("x"))
        .sortWithinPartitions("x"), "linear-x")
    }
    section("sketch") {
      // approximate aggregates a 100 TB report would use instead of exact
      // shuffles: HLL distinct + t-digest quantiles vs their exact values.
      // Engine-side only (no oracle — approximation is engine-specific);
      // the probe records the observed relative error.
      val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val exact = docs.select(countDistinct(col("text")).as("d"),
        expr("percentile(n_chars, 0.5)").as("p50")).head()
      for (rsd <- Seq(0.05, 0.01)) {
        val t0 = System.nanoTime()
        val approx = docs.select(
          approx_count_distinct(col("text"), rsd).as("d"),
          expr("approx_percentile(n_chars, 0.5, 1000)").as("p50")).head()
        val wall = (System.nanoTime() - t0) / 1e9
        val err = math.abs(approx.getLong(0) - exact.getLong(0)).toDouble /
          exact.getLong(0)
        println(f"[probe] sketch rsd=$rsd: approxDistinct=${approx.getLong(0)} " +
          f"exact=${exact.getLong(0)} relErr=$err%.4f " +
          f"p50=${approx.getLong(1)} exactP50=${exact.getDouble(1)}%.1f $wall%.2f s")
      }
    }
    // Wire-protocol serving under replication: the client's full scan is
    // transfer-bound (linear in N — every point crosses the wire once),
    // a keyset page costs O(page) at ANY scroll depth (the server seeks,
    // the client requests only the page), and a pushed top-k ships k
    // points however large the collection grows (scoring stays
    // server-side). The curve should show scan ~N, keyset flat across
    // depths, search growing only with server-side scoring, not
    // transfer.
    section("rest") {
      import graft.sources._
      val homR = graft.collections.Collections
        .homogeneous(spark, "/root/testdata/sf0.1")
        .select(col("id"), col("payload"), col("vector"))
      for (n <- Seq(1, 2, 4)) {
        val c = (0 until n).map(i => homR.select(
          concat(col("id"), lit(f"_$i%02d")).as("id"),
          col("payload"), col("vector"))).reduce(_ union _)
        CollectionStores.register(s"restprobe_$n",
          InMemoryCollectionStore.fromRows(c, "embeddings",
            graft.collections.Collections.homogeneousDescriptor))
        val srv = new CollectionHttpServer(s"restprobe_$n").start()
        try {
          val client = new RestCollectionStore(srv.baseUrl, pageSize = 2048)
          val total = client.pointCount("embeddings")
          time(s"rest scan x$n (total=$total)") {
            client.queryPoints("embeddings", 0, total,
              withPayload = true, Seq("vector"), None).length.toLong
          }
          for (frac <- Seq(0.1, 0.5, 0.9)) {
            val at = (total * frac).toLong
            val bound = client.queryPoints("embeddings", at, at + 1,
              withPayload = false, Nil, None).next().id
            time(f"rest keyset x$n depth=$frac%.1f") {
              client.queryPoints("embeddings", 0, total, withPayload = false,
                Nil, Some(100), None, Some(bound)).length.toLong
            }
          }
          time(s"rest search x$n") {
            client.searchPoints("embeddings",
              SearchSpec("vector", qv.toArray, "cosine", 10),
              withPayload = false, Seq.empty).length.toLong
          }
        } finally { srv.stop(); CollectionStores.remove(s"restprobe_$n") }
      }
    }
    // SemDeDup's one knob made measurable: within-cluster pair volume is
    // sum(cluster_size^2)/2 — with nlist FIXED while the corpus grows xN
    // cluster sizes grow ~N and the join goes quadratic; with nlist
    // scaled ~N cluster sizes stay constant and cost stays ~linear (the
    // paper's k-scales-with-corpus prescription). Replicas are exact
    // copies, so true-dup density is identical between the two arms —
    // the cost difference is purely the blocking design.
    section("semantic") {
      val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      for (n <- Seq(1, 2, 4, 8)) {
        val c = replicate(e, "vec_id", n)
        for ((tag, nlist) <- Seq("fixed" -> 16, "scaled" -> 16 * n)) {
          val idx = graft.ops.Ann.buildIvf(c, "vec_id", "v", nlist, maxIter = 2)
          time(s"semantic $tag x$n nlist=$nlist") {
            graft.ops.Dedup.semanticDedupPairs(idx.clustered, "vec_id", "v",
              threshold = 0.999).count()
          }
          idx.clustered.unpersist()
        }
      }
    }
    // Targeted A/B rows: the variants below are whatever the last
    // investigation probed — a 16x-replicated corpus run at
    // SPARK_GRAFT_CPUS=32 then 8 (a c8/c32 ratio near 1 on 16x data
    // means the stage is still overhead-bound, not operator-bound).
    // SPARK_GRAFT_SF_DIR picks the corpus (default: the sweep's),
    // SPARK_GRAFT_REPL the replica count, SPARK_GRAFT_REPEAT the runs
    // per variant (median reported). Runs only when named (`runMain
    // ScaleProbe probe`): the full sweep leaves it out. Every table is
    // read once first, so the first variant's timings are not cold reads.
    section("probe", namedOnly = true) {
      val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
      val warmDir = sfDir.getOrElse("/root/testdata/sf0.1")
      graft.Tables.names.foreach(t => graft.Tables.load(spark, warmDir, t).count())
      val n = sys.env.getOrElse("SPARK_GRAFT_REPL", "16").toInt
      val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "5").toInt
      val d0 = sfDir.fold(base)(graft.Tables.load(spark, _, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source")))
      val e0 = sfDir.fold(ev)(graft.Tables.load(spark, _, "events"))
      val docsN = replicate(d0, "doc_id", n).localCheckpoint()
      val eventsN = replicate(e0.select(col("event_id"), col("props")),
        "event_id", n).localCheckpoint()
      val variants: Seq[(String, () => DataFrame)] = Seq(
        "dup_ngram_top" -> (() => graft.ops.TextAnalysis
          .topDuplicatedNgrams(docsN, "text", n = 5, k = 20)),
        "span_stats" -> (() => graft.ops.Dedup
          .spanStats(docsN, "doc_id", "text")),
        "tfidf_topk" -> (() => graft.ops.TextAnalysis
          .tfidfTopTerms(docsN, "doc_id", "text", perDoc = 3)),
        "unigram_logprob" -> (() => graft.ops.TextAnalysis
          .unigramLogProb(docsN, "doc_id", "text")),
        "cc_minhash" -> (() => graft.ops.Dedup
          .dedupClustersMinhash(docsN, "doc_id", "text", threshold = 0.8)),
        "json_surface" -> (() => eventsN
          .select(col("event_id"),
            from_json(col("props"), org.apache.spark.sql.types.MapType(
              StringType, StringType)).as("__m"))
          .select(col("event_id"),
            array_join(map_keys(col("__m")), ",").as("ks"),
            size(map_keys(col("__m"))).as("n_keys")))
      )
      variants.foreach { case (name, fn) =>
        val times = (1 to repeat).map { _ =>
          val t0 = System.nanoTime()
          fn().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        val med = times(times.length / 2)
        println(f"[probe] $name%-14s med=$med%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
