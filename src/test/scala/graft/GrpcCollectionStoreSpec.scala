package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.collections._
import graft.sources._

/** The BINARY wire transport: a [[GrpcCollectionStore]] framed-protobuf
  * client dialing a [[CollectionGrpcServer]] fronting the in-memory
  * store. Every test asserts CLIENT == INNER parity — the transport twin
  * of RestCollectionStoreSpec: the reference's client speaks gRPC
  * (/root/reference/src/table.rs:133 via qdrant-client), and the
  * transport hop must be invisible above the [[CollectionStore]] seam
  * whichever encoding carries it.
  */
class GrpcCollectionStoreSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private val desc = CollectionDescriptor("c", Seq(
    DenseField("text_embedding", 2),
    MultiField("multi", 2),
    SparseField("keywords")))

  private def mkPoints(n: Int): IndexedSeq[Point] =
    (0 until n).map { i =>
      Point(
        id = f"$i%03d",
        payload = if (i % 4 == 0) None else Some(s"""{"i": $i, "s": "a\"b\\\\c"}"""),
        dense = if (i % 3 != 2) Map("text_embedding" -> Array(i.toFloat, i + 0.5f)) else Map.empty,
        multi = if (i % 3 == 0) Map("multi" -> Array(Array(1f, 2f), Array(3f, i.toFloat))) else Map.empty,
        sparse = if (i % 2 == 0) Map("keywords" -> (Array(1, 5), Array(0.1f, i * 0.9f))) else Map.empty)
    }

  private lazy val inner = InMemoryCollectionStore.single("c", desc, mkPoints(20))
  private lazy val server: CollectionGrpcServer = {
    CollectionStores.register("grpc_inner_spec", inner)
    new CollectionGrpcServer("grpc_inner_spec").start()
  }
  private lazy val client = new GrpcCollectionStore(server.host, server.port)

  override def afterAll(): Unit = server.stop()

  private def key(p: Point) = (p.id, p.payload,
    p.dense.view.mapValues(_.toSeq).toMap,
    p.multi.view.mapValues(_.map(_.toSeq).toSeq).toMap,
    p.sparse.view.mapValues { case (i, v) => (i.toSeq, v.toSeq) }.toMap)

  private val allFields = Seq("text_embedding", "multi", "keywords")

  test("protobuf primitives: varints, doubles, packed runs, unknown-field skip") {
    val w = new PbWriter()
      .int(1, 0L).int(2, 127L).int(3, 128L).int(4, Long.MaxValue)
      .double(5, -0.0).double(6, Double.MinPositiveValue)
      .string(7, "héllo;|&\\")
      .packedFloats(8, Array(1.5f, -2.25f, Float.NaN))
      .packedDoubles(9, Array(math.Pi, -1e300))
      .packedInts(10, Array(0, 1, 300, Int.MaxValue))
      .bool(11, b = true)
    val r = new PbReader(w.toBytes)
    var seen = Map.empty[Int, Any]
    while (r.hasNext) r.readTag() match {
      case (f, 0) => seen += f -> r.readRawVarint()
      case (f, 1) => seen += f -> r.readDouble()
      case (7, _) => seen += 7 -> r.readString()
      case (8, _) => seen += 8 -> r.readPackedFloats().toSeq
      case (9, _) => seen += 9 -> r.readPackedDoubles().toSeq
      case (10, _) => seen += 10 -> r.readPackedInts().toSeq
      case (_, wt) => r.skip(wt)
    }
    assert(seen(1) === 0L && seen(2) === 127L && seen(3) === 128L)
    assert(seen(4) === Long.MaxValue)
    assert(java.lang.Double.doubleToLongBits(seen(5).asInstanceOf[Double]) ===
      java.lang.Double.doubleToLongBits(-0.0))
    assert(seen(6) === Double.MinPositiveValue)
    assert(seen(7) === "héllo;|&\\")
    val fs = seen(8).asInstanceOf[Seq[Float]]
    assert(fs(0) === 1.5f && fs(1) === -2.25f && fs(2).isNaN)
    assert(seen(9) === Seq(math.Pi, -1e300))
    assert(seen(10) === Seq(0, 1, 300, Int.MaxValue))
    assert(seen(11) === 1L)
    // an unknown field in the middle must not derail decoding
    val w2 = new PbWriter().int(1, 7L).string(99, "future").int(2, 8L)
    val r2 = new PbReader(w2.toBytes)
    var a = 0L
    var b = 0L
    while (r2.hasNext) r2.readTag() match {
      case (1, _) => a = r2.readRawVarint()
      case (2, _) => b = r2.readRawVarint()
      case (_, wt) => r2.skip(wt)
    }
    assert(a === 7L && b === 8L)
  }

  test("descriptor round-trips through the binary wire") {
    assert(client.collectionInfo("c") === desc)
    assert(client.collectionNames === Seq("c"))
    intercept[IllegalArgumentException] { client.collectionInfo("nope") }
  }

  test("full fetch round-trips every point exactly (payload bytes, all vector kinds)") {
    val got = client.queryPoints("c", 0, 20, withPayload = true, allFields, None).map(key).toSeq
    val want = inner.queryPoints("c", 0, 20, withPayload = true, allFields, None).map(key).toSeq
    assert(got === want)
    assert(got.size === 20)
  }

  test("narrowed fetch: un-requested payload/fields never cross the wire") {
    val got = client.queryPoints("c", 0, 20, withPayload = false,
      Seq("text_embedding"), None).map(key).toSeq
    val want = inner.queryPoints("c", 0, 20, withPayload = false,
      Seq("text_embedding"), None).map(key).toSeq
    assert(got === want)
    assert(got.forall(p => p._2.isEmpty && p._4.isEmpty && p._5.isEmpty))
  }

  test("window + id filter + keyset bound + limit + payload filter apply server-side") {
    val ids = Some(Set("003", "007", "011", "015"))
    val got = client.queryPoints("c", 0, 20, withPayload = true, Nil, Some(2),
      idFilter = ids, idLower = Some("004")).map(key).toSeq
    val want = inner.queryPoints("c", 0, 20, withPayload = true, Nil, Some(2),
      idFilter = ids, idLower = Some("004")).map(key).toSeq
    assert(got === want)
    assert(got.map(_._1) === Seq("007", "011"))
    // payload-filter leg on a VALID-JSON fixture (mkPoints' payloads are
    // deliberately gnarly non-JSON bytes for the fidelity tests — a
    // filter over them matches nothing on either side, which would make
    // this check vacuous)
    CollectionStores.register("grpc_pf_spec",
      InMemoryCollectionStore.single("p",
        CollectionDescriptor("p", Seq(DenseField("v", 2))),
        (0 until 12).map(i => Point(f"$i%02d", Some(s"""{"i":$i}"""),
          dense = Map("v" -> Array(i.toFloat, 1f))))))
    val srv = new CollectionGrpcServer("grpc_pf_spec").start()
    try {
      val cl = new GrpcCollectionStore(srv.host, srv.port)
      val pfInner = CollectionStores.get("grpc_pf_spec")
      val pf = PayloadFilter(Seq(PayloadCondition("i", "gte", "8")), Nil, None)
      val fgot = cl.queryPointsFiltered("p", 0, 12, withPayload = true,
        Nil, None, pfilter = pf).map(key).toSeq
      val fwant = pfInner.queryPointsFiltered("p", 0, 12, withPayload = true,
        Nil, None, pfilter = pf).map(key).toSeq
      assert(fgot === fwant)
      assert(fgot.map(_._1) === Seq("08", "09", "10", "11"))
    } finally srv.stop()
    // the limit ships IN the scroll frame: a limit-2 scroll over the
    // 20-point collection pulls at most 2 points out of the fronted store,
    // so the server sends at most 2 (never a full page cut client-side)
    val pulled = new java.util.concurrent.atomic.AtomicLong(0L)
    CollectionStores.register("grpc_limit_spec", new CollectionStore {
      def collectionInfo(c: String): CollectionDescriptor = inner.collectionInfo(c)
      def pointCount(c: String): Long = inner.pointCount(c)
      def queryPoints(c: String, from: Long, until: Long, withPayload: Boolean,
                      vectorFields: Seq[String], limit: Option[Int],
                      idFilter: Option[Set[String]], idLower: Option[String]): Iterator[Point] =
        inner.queryPoints(c, from, until, withPayload, vectorFields, limit,
          idFilter, idLower).map { p => pulled.incrementAndGet(); p }
    })
    val lsrv = new CollectionGrpcServer("grpc_limit_spec").start()
    try {
      val lcl = new GrpcCollectionStore(lsrv.host, lsrv.port)
      assert(lcl.queryPoints("c", 0, 20, withPayload = true, allFields, Some(2))
        .map(_.id).toSeq === Seq("000", "001"))
      assert(pulled.get() <= 2L,
        s"a limit-2 scroll made the server send ${pulled.get()} points")
    } finally lsrv.stop()
  }

  test("paging is an enumeration-window loop: a tiny page size returns the same rows") {
    val paged = new GrpcCollectionStore(server.host, server.port, pageSize = 3)
    val got = paged.queryPoints("c", 0, 20, withPayload = true, allFields, None).map(key).toSeq
    val want = inner.queryPoints("c", 0, 20, withPayload = true, allFields, None).map(key).toSeq
    assert(got === want)
  }

  test("a full-window id fetch pages the ID SET: bounded id-sorted chunks, one request each, parity kept") {
    val paged = new GrpcCollectionStore(server.host, server.port, pageSize = 3)
    val ids = Set("001", "004", "005", "009", "013", "014", "017", "019")
    val req0 = server.requestsServed.get()
    val got = paged.queryPoints("c", 0, 20, withPayload = true, allFields,
      None, idFilter = Some(ids)).map(key).toSeq
    val want = inner.queryPoints("c", 0, 20, withPayload = true, allFields,
      None, idFilter = Some(ids)).map(key).toSeq
    assert(got === want)
    // 8 ids at pageSize 3 = 3 id-chunk requests (+ descriptor +
    // pointCount) — NOT the positional loop's ceil(20/3) = 7 windows
    // each re-serializing the whole id set
    val reqs = server.requestsServed.get() - req0
    assert(reqs <= 5L, s"id fetch issued $reqs requests")
    // a partial window keeps positional semantics (no id paging)
    assert(paged.queryPoints("c", 3, 9, withPayload = false, Nil, None,
      idFilter = Some(ids)).map(_.id).toSeq ===
      inner.queryPoints("c", 3, 9, withPayload = false, Nil, None,
        idFilter = Some(ids)).map(_.id).toSeq)
    // the REST twin pages the same way
    CollectionStores.register("rest_idpage_spec", inner)
    val hsrv = new CollectionHttpServer("rest_idpage_spec").start()
    try {
      val rcl = new RestCollectionStore(hsrv.baseUrl, pageSize = 3)
      val r0 = hsrv.requestsServed.get()
      assert(rcl.queryPoints("c", 0, 20, withPayload = true, allFields,
        None, idFilter = Some(ids)).map(key).toSeq === want)
      assert(hsrv.requestsServed.get() - r0 <= 6L)
    } finally hsrv.stop()
  }

  test("pushed search parity: dense, sparse, threshold, offset, filtered") {
    val dense = SearchSpec("text_embedding", Array(3.0, 3.5), "cosine", 5)
    assert(client.searchPoints("c", dense, withPayload = true, Seq("text_embedding"))
      .map { case (p, s) => (key(p), s) } ===
      inner.searchPoints("c", dense, withPayload = true, Seq("text_embedding"))
        .map { case (p, s) => (key(p), s) })
    val paged = dense.copy(k = 3, offset = 2, scoreThreshold = Some(0.5))
    assert(client.searchPoints("c", paged, withPayload = false, Nil)
      .map { case (p, s) => (p.id, s) } ===
      inner.searchPoints("c", paged, withPayload = false, Nil)
        .map { case (p, s) => (p.id, s) })
    val sparse = SearchSpec("keywords", Array(1.0, 2.0), "dot", 4,
      sparseIndices = Some(Array(1, 5)))
    assert(client.searchPoints("c", sparse, withPayload = false, Nil)
      .map { case (p, s) => (p.id, s) } ===
      inner.searchPoints("c", sparse, withPayload = false, Nil)
        .map { case (p, s) => (p.id, s) })
    val pf = PayloadFilter(Seq(PayloadCondition("i", "lte", "10")), Nil, None)
    assert(client.searchPointsFiltered("c", dense, withPayload = false, Nil, pf)
      .map { case (p, s) => (p.id, s) } ===
      inner.searchPointsFiltered("c", dense, withPayload = false, Nil, pf)
        .map { case (p, s) => (p.id, s) })
  }

  test("batched queries: per-spec pages equal the single-query path, one round trip") {
    val specs = IndexedSeq(
      SearchSpec("text_embedding", Array(1.0, 1.0), "cosine", 3),
      SearchSpec("text_embedding", Array(10.0, 0.5), "dot", 4, offset = 1),
      SearchSpec("keywords", Array(2.0, 1.0), "dot", 2,
        sparseIndices = Some(Array(1, 5))))
    val got = client.searchPointsBatch("c", specs, withPayload = true,
      Seq("text_embedding"))
    assert(got.size === 3)
    specs.zip(got).foreach { case (sp, page) =>
      val single = inner.searchPoints("c", sp, withPayload = true,
        Seq("text_embedding"))
      assert(page.map { case (p, s) => (key(p), s) } ===
        single.map { case (p, s) => (key(p), s) })
    }
  }

  test("counts and facets answer in one round trip, exactly") {
    assert(client.pointCount("c") === 20L)
    assert(client.countMatching("c", idLower = Some("009")) ===
      inner.countMatching("c", idLower = Some("009")))
    val pf = PayloadFilter(Seq(PayloadCondition("i", "gt", "4")),
      Seq(PayloadCondition("i", "eq", "7")), None)
    assert(client.countMatchingFiltered("c", None, None, pf) ===
      inner.countMatchingFiltered("c", None, None, pf))
    assert(client.facetCounts("c", "i", 5) === inner.facetCounts("c", "i", 5))
    // targeted exact per-value counts (the threshold merge's second
    // pass) cross the framed wire too
    assert(client.facetCountsFor("c", "i", Set("1", "3", "ghost")) ===
      inner.facetCountsFor("c", "i", Set("1", "3", "ghost")))
    assert(client.facetCountsFor("c", "i", Set.empty) === Map.empty)
    // FILTERED facets: the filter rides the frame, evaluates server-side
    val fpf = PayloadFilter(Seq(PayloadCondition("i", "gt", "4")), Nil, None)
    assert(client.facetCounts("c", "i", 5, fpf) ===
      inner.facetCounts("c", "i", 5, fpf))
    assert(client.facetCountsFor("c", "i", Set("5", "9"), fpf) ===
      inner.facetCountsFor("c", "i", Set("5", "9"), fpf))
  }

  test("mutations land as one atomic RMW on the fronted store; log replays over the wire") {
    CollectionStores.register("grpc_mut_spec",
      InMemoryCollectionStore.single("m",
        CollectionDescriptor("m", Seq(DenseField("v", 2))), IndexedSeq.empty))
    val srv = new CollectionGrpcServer("grpc_mut_spec").start()
    try {
      val cl = new GrpcCollectionStore(srv.host, srv.port)
      cl.upsertPoints("m", Seq(
        Point("a", Some("""{"x":1}"""), dense = Map("v" -> Array(1f, 0f))),
        Point("b", None, dense = Map("v" -> Array(0f, 1f)))))
      assert(cl.pointCount("m") === 2L)
      cl.deletePoints("m", Set("a"))
      assert(cl.queryPoints("m", 0, 2, withPayload = true, Seq("v"), None)
        .map(_.id).toSeq === Seq("b"))
      // the CDC surface crosses the wire too: upserts + tombstone
      assert(cl.logSize("m") === 3L)
      assert(cl.logEntries("m", 0, 3).map(e => (e.op, e.point.id)).toSeq ===
        Seq(("upsert", "a"), ("upsert", "b"), ("delete", "a")))
      cl.truncate("m")
      assert(cl.pointCount("m") === 0L)
      // error kinds survive the status mapping
      intercept[IllegalArgumentException] { cl.pointCount("nope") }
    } finally srv.stop()
  }

  test("ranked full-text crosses the framed wire in one round trip, equal to the local serve") {
    val pts = (0 until 12).map { i =>
      Point(f"$i%03d", Some(s"""{"body":"tok${i % 3} tok${i % 4} filler$i"}"""),
        Map.empty)
    }
    val st = InMemoryCollectionStore.single("tr",
      CollectionDescriptor("tr", Seq.empty), pts)
    CollectionStores.register("grpc_tr_spec", st)
    val srv = new CollectionGrpcServer("grpc_tr_spec").start()
    try {
      val cl = new GrpcCollectionStore(srv.host, srv.port)
      val want = st.searchTextRanked("tr", "body", Seq("tok1", "tok2"), 5)
      assert(cl.searchTextRanked("tr", "body", Seq("tok1", "tok2"), 5) === want)
      assert(want.nonEmpty)
      assert(cl.searchTextRanked("tr", "body", Seq("tok1"), 3, k1 = 2.0,
        b = 0.5) === st.searchTextRanked("tr", "body", Seq("tok1"), 3,
        k1 = 2.0, b = 0.5))
      // the TWO-PHASE seam over the wire: stats are a few longs, the
      // globally-ranked page is at most k rows — together they reproduce
      // the local rank exactly (the sharded wrapper's per-member calls)
      val stats = cl.textRankStats("tr", "body", Seq("tok1", "tok2"))
      val local = st.textRankStats("tr", "body", Seq("tok1", "tok2"))
      assert((stats.n, stats.totalLen) === ((local.n, local.totalLen)))
      assert(stats.dfs.toSeq === local.dfs.toSeq)
      val page = cl.textRankTopK("tr", "body", Seq("tok1", "tok2"), 5, stats)
      assert(page === want)
      assert(page.size <= 5)
      // a phase-2 frame whose dfs don't align to its terms must refuse
      // with the validation kind — never an index error mid-scoring
      val e = intercept[IllegalArgumentException] {
        cl.textRankTopK("tr", "body", Seq("tok1", "tok2"), 5,
          TextRankStats(12L, 36L, Array(4L)))
      }
      assert(e.getMessage.contains("dfs"), e.getMessage)
    } finally srv.stop()
  }

  test("optimize and snapshot verbs act SERVER-side: sidecars reseal at the log head, the artifact lands at the service path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-grpc-opt").toString
    val pdesc = CollectionDescriptor("op",
      Seq(DenseField("vector", 2)), named = false)
    val df = (1 to 10).map { i =>
      (i.toString, s"""{"g":${i % 5}}""", Array(1.0f - i * 0.05f, i * 0.05f))
    }.toDF("id", "payload", "vector")
    ParquetCollectionStore.write(df, dir, numFiles = 2, withLog = true)
    ParquetCollectionStore.writePayloadSidecar(df, dir, key = "g", kind = "int")
    val mutated = new ParquetCollectionStore(dir, "op", pdesc)
      .appended("op", IndexedSeq(Point("0", Some("""{"g":3}"""),
        dense = Map("vector" -> Array(1.0f, 0.001f)))))
      .removed("op", Set("3"))
    CollectionStores.register("grpc_opt_spec", mutated)
    val srv = new CollectionGrpcServer("grpc_opt_spec").start()
    try {
      val cl = new GrpcCollectionStore(srv.host, srv.port)
      val logHead = mutated.logSize("op")
      cl.optimize()
      val swapped = CollectionStores.get("grpc_opt_spec")
        .asInstanceOf[ParquetCollectionStore]
      assert(swapped ne mutated)                // COW swap on the registry
      assert(swapped.logSize("op") === logHead) // optimize never writes the log
      // index-pruned serving returned: the rebuilt g=3 value partition
      // answers the count with the primaries closed
      val pf = PayloadFilter(Seq(PayloadCondition("g", "eq", "3")), Nil, None)
      assert(swapped.countMatchingFiltered("op", None, None, pf) === 2L)
      assert(swapped.filesOpened.get() === 0L)
      // the verb is result-invisible through the client
      val spec = SearchSpec("vector", Array(1.0, 0.0), "cosine", 3)
      assert(cl.searchPoints("op", spec, withPayload = false, Nil).map(_._1.id)
        === mutated.searchPoints("op", spec, withPayload = false, Nil).map(_._1.id))
      // SNAPSHOT verb: the portable artifact (parquet + manifest) lands
      // at the SERVICE-side path; a local restore reproduces the state
      val snap = java.nio.file.Files
        .createTempDirectory("graft-grpc-snap").toString
      cl.snapshot("op", snap)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(snap, "MANIFEST")))
      val restored = graft.collections.Snapshot.restore(
        spark, snap, "grpc_snap_restore_spec", "op2")
      assert(restored.count() === 10L) // 10 ingested + upsert("0") - removed("3")
    } finally srv.stop()
  }

  test("log compaction crosses the wire: COW swap on the fronted store, retained positions untouched") {
    val pts = (0 until 10).map(i =>
      Point(f"$i%02d", Some(s"""{"k":$i}"""), Map.empty))
    val st = InMemoryCollectionStore.single("lc",
      CollectionDescriptor("lc", Seq.empty), pts)
    CollectionStores.register("grpc_compact_spec", st)
    val srv = new CollectionGrpcServer("grpc_compact_spec").start()
    try {
      val cl = new GrpcCollectionStore(srv.host, srv.port)
      assert(cl.logSize("lc") === 10L)
      val retained = cl.logEntries("lc", 4L, 10L)
        .map(e => (e.seq, e.op, e.point.id)).toIndexedSeq
      cl.compact("lc", 4L)
      assert(cl.logStart("lc") === 4L)
      assert(cl.logSize("lc") === 10L)
      assert(cl.logEntries("lc", 4L, 10L)
        .map(e => (e.seq, e.op, e.point.id)).toIndexedSeq === retained)
      // the dropped prefix fails loudly with the conflict status
      intercept[IllegalStateException] {
        cl.logEntries("lc", 0L, 10L).foreach(_ => ())
      }
      // points are untouched by log compaction
      assert(cl.pointCount("lc") === 10L)
    } finally srv.stop()
  }

  test("client failure bound: a wedged server surfaces a timeout, never pins the thread") {
    // a server that ACCEPTS but never answers — the half-open failure
    // mode the read timeout exists for
    val wedged = new java.net.ServerSocket(0, 8,
      java.net.InetAddress.getLoopbackAddress)
    try {
      val cl = new GrpcCollectionStore(
        java.net.InetAddress.getLoopbackAddress.getHostAddress,
        wedged.getLocalPort, timeoutMs = 300)
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] { cl.pointCount("c") }
      val elapsed = (System.nanoTime() - t0) / 1e6
      assert(e.getMessage.contains("timed out"), e.getMessage)
      assert(elapsed < 5000, s"timeout took ${elapsed}ms — unbounded wait")
    } finally wedged.close()
  }

  test("api-key auth: keyed server refuses missing/wrong key frames, keyed client is unaffected") {
    CollectionStores.register("grpc_auth_spec", inner)
    val srv = new CollectionGrpcServer("grpc_auth_spec",
      apiKey = Some("sekrit")).start()
    try {
      val keyed = new GrpcCollectionStore(srv.host, srv.port,
        apiKey = Some("sekrit"))
      assert(keyed.pointCount("c") === 20L)
      assert(keyed.queryPoints("c", 0, 20, withPayload = true, allFields, None)
        .map(key).toSeq ===
        inner.queryPoints("c", 0, 20, withPayload = true, allFields, None)
          .map(key).toSeq)
      // no trailing key frame -> status 5 before any routing
      val unkeyed = new GrpcCollectionStore(srv.host, srv.port)
      val e1 = intercept[SecurityException] { unkeyed.pointCount("c") }
      assert(e1.getMessage.contains("api-key"))
      // wrong key -> same refusal
      val wrong = new GrpcCollectionStore(srv.host, srv.port,
        apiKey = Some("nope"))
      intercept[SecurityException] { wrong.collectionNames }
      // mutations refuse BEFORE touching the store
      intercept[SecurityException] {
        unkeyed.deletePoints("c", Set("000"))
      }
      assert(inner.pointCount("c") === 20L)
      // an UNKEYED server ignores a client's trailing key frame (forward
      // compatible: keyed clients can talk to open servers)
      val open = new CollectionGrpcServer("grpc_auth_spec").start()
      try {
        val cl = new GrpcCollectionStore(open.host, open.port,
          apiKey = Some("whatever"))
        assert(cl.pointCount("c") === 20L)
      } finally open.stop()
    } finally srv.stop()
  }
}
