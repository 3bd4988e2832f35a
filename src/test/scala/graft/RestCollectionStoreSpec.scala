package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.collections._
import graft.sources._

/** The wire-protocol backend: a [[RestCollectionStore]] HTTP/JSON client
  * dialing a [[CollectionHttpServer]] that fronts the in-memory store —
  * the remote-deployment shape of the connector (the reference's defining
  * integration is a client dialed from a URL, /root/reference/src/
  * table.rs:48). Every test asserts CLIENT == INNER parity: the wire hop
  * must be invisible above the [[CollectionStore]] seam.
  */
class RestCollectionStoreSpec extends AnyFunSuite with BeforeAndAfterAll {
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
  private lazy val server: CollectionHttpServer = {
    CollectionStores.register("rest_inner_spec", inner)
    new CollectionHttpServer("rest_inner_spec").start()
  }
  private lazy val client = new RestCollectionStore(server.baseUrl)
  private lazy val grpcServer = new CollectionGrpcServer("rest_inner_spec").start()

  override def afterAll(): Unit = { server.stop(); grpcServer.stop() }

  /** Structural point form (arrays compare by reference otherwise). */
  private def key(p: Point) = (p.id, p.payload,
    p.dense.view.mapValues(_.toSeq).toMap,
    p.multi.view.mapValues(_.map(_.toSeq).toSeq).toMap,
    p.sparse.view.mapValues { case (i, v) => (i.toSeq, v.toSeq) }.toMap)

  private val allFields = Seq("text_embedding", "multi", "keywords")

  test("full fetch round-trips every point exactly (payload bytes, all vector kinds)") {
    val got = client.queryPoints("c", 0, 20, withPayload = true, allFields, None).map(key).toSeq
    val want = inner.queryPoints("c", 0, 20, withPayload = true, allFields, None).map(key).toSeq
    assert(got === want)
    assert(got.size === 20)
  }

  test("narrowed fetch: un-requested payload/fields never cross the wire") {
    val got = client.queryPoints("c", 0, 20, withPayload = false, Seq("text_embedding"), None).map(key).toSeq
    val want = inner.queryPoints("c", 0, 20, withPayload = false, Seq("text_embedding"), None).map(key).toSeq
    assert(got === want)
    assert(got.forall(p => p._2.isEmpty && p._4.isEmpty && p._5.isEmpty))
    // the RAW response bytes, not just the parsed client view: the
    // narrowing contract is about what ships, so assert on the wire
    val raw = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(server.baseUrl + "/collections/c/points/scroll"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"range":[0,20],"with_payload":false,"with_vector":["text_embedding"]}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString()).body()
    assert(!raw.contains("payload"))
    assert(!raw.contains("keywords") && !raw.contains("multi"))
    assert(raw.contains("text_embedding"))
  }

  test("window + id filter + keyset bound + limit all apply server-side") {
    def both(from: Long, until: Long, limit: Option[Int],
             ids: Option[Set[String]], lower: Option[String]) = {
      val g = client.queryPoints("c", from, until, withPayload = true, allFields,
        limit, ids, lower).map(key).toSeq
      val w = inner.queryPoints("c", from, until, withPayload = true, allFields,
        limit, ids, lower).map(key).toSeq
      assert(g === w, s"from=$from until=$until limit=$limit ids=$ids lower=$lower")
      g
    }
    assert(both(5, 15, None, None, None).size === 10)
    assert(both(0, 20, Some(4), None, None).size === 4)
    assert(both(0, 20, None, Some(Set("003", "007", "019")), None).size === 3)
    assert(both(0, 20, None, None, Some("014")).map(_._1) === Seq("015", "016", "017", "018", "019"))
    // filter applies BEFORE limit — the seam's documented order
    assert(both(0, 20, Some(2), None, Some("010")).map(_._1) === Seq("011", "012"))
  }

  test("client paging is invisible: pageSize crossing results and limits") {
    val paged = new RestCollectionStore(server.baseUrl, pageSize = 3)
    val g = paged.queryPoints("c", 1, 19, withPayload = true, allFields,
      Some(7), None, Some("004")).map(key).toSeq
    val w = inner.queryPoints("c", 1, 19, withPayload = true, allFields,
      Some(7), None, Some("004")).map(key).toSeq
    assert(g === w)
    assert(g.size === 7)
  }

  test("pushed search is served server-side with identical ranking and scores") {
    for (metric <- Seq("cosine", "dot", "euclid")) {
      val spec = SearchSpec("text_embedding", Array(1.0, 0.5), metric, 5)
      val g = client.searchPoints("c", spec, withPayload = true, Seq("text_embedding"))
      val w = inner.searchPoints("c", spec, withPayload = true, Seq("text_embedding"))
      assert(g.map { case (p, s) => (key(p), s) } ===
        w.map { case (p, s) => (key(p), s) }, metric)
      assert(g.size === 5)
    }
  }

  test("search offset and score_threshold cross the wire with client==inner parity") {
    // offset pages INTO the ranking: page 2 of 2s continues page 1 of 4
    val whole = SearchSpec("text_embedding", Array(1.0, 0.5), "cosine", 4)
    val page2 = SearchSpec("text_embedding", Array(1.0, 0.5), "cosine", 2, offset = 2)
    val w = inner.searchPoints("c", whole, withPayload = false, Seq.empty)
    val g = client.searchPoints("c", page2, withPayload = false, Seq.empty)
    assert(g.map { case (p, s) => (p.id, s) } ===
      w.drop(2).map { case (p, s) => (p.id, s) })
    // threshold: client == inner, every survivor clears the cut
    val cut = w(1)._2 // between rank 1 and 2 exclusive of later ranks
    val thr = SearchSpec("text_embedding", Array(1.0, 0.5), "cosine", 10,
      scoreThreshold = Some(cut))
    val gt = client.searchPoints("c", thr, withPayload = false, Seq.empty)
    val wt = inner.searchPoints("c", thr, withPayload = false, Seq.empty)
    assert(gt.map { case (p, s) => (p.id, s) } ===
      wt.map { case (p, s) => (p.id, s) })
    assert(gt.forall(_._2 >= cut) && gt.nonEmpty)
    // euclid flips the threshold direction: a MAXIMUM distance
    val ed = inner.searchPoints("c",
      SearchSpec("text_embedding", Array(1.0, 0.5), "euclid", 20),
      withPayload = false, Seq.empty)
    val ecut = ed(2)._2
    val et = client.searchPoints("c",
      SearchSpec("text_embedding", Array(1.0, 0.5), "euclid", 20,
        scoreThreshold = Some(ecut)),
      withPayload = false, Seq.empty)
    assert(et.forall(_._2 <= ecut) && et.size === 3)
  }

  test("filtered count crosses the wire in one call with client==inner parity") {
    // unfiltered stays the metadata-hit form
    assert(client.countMatching("c") === inner.pointCount("c"))
    // id-set, keyset, and their conjunction — each one POST, same number
    // the default slice-walk produces
    val ids = Some(Set("003", "007", "019", "nope"))
    assert(client.countMatching("c", ids) === inner.countMatching("c", ids))
    assert(client.countMatching("c", ids) === 3L)
    assert(client.countMatching("c", idLower = Some("015")) ===
      inner.countMatching("c", idLower = Some("015")))
    assert(client.countMatching("c", ids, Some("005")) === 2L)
    // and the connector's pushed COUNT over a REST store serves from it
    import org.apache.spark.sql.functions._
    CollectionStores.register("rest_client_spec_count", client)
    val df = spark.read.format("graft.sources.CollectionDataSource")
      .option("store", "rest_client_spec_count")
      .option("collection", "c").load()
    val counted = df.filter(col("id") > "015").agg(count(lit(1)))
    assert(counted.queryExecution.executedPlan.toString
      .contains("CollectionFilteredCountScan"))
    assert(counted.head().getLong(0) === 4L)
  }

  test("facet crosses the wire with client==inner parity") {
    // "c"'s payloads are deliberately MALFORMED JSON (the byte-fidelity
    // fixture) — facet must skip them all rather than fail
    assert(client.facetCounts("c", "i", limit = 10) === Seq.empty)
    // a clean-payload collection: mod-3 classes with planted counts
    val fdesc = CollectionDescriptor("f", Seq(DenseField("v", 2)))
    val fpts = (0 until 12).map { i =>
      Point(f"$i%03d",
        payload =
          if (i == 11) None
          else Some(s"""{"m": ${i % 3}, "t": "c${i % 3}"}"""),
        dense = Map("v" -> Array(i.toFloat, 1f)),
        multi = Map.empty, sparse = Map.empty)
    }
    val finner = InMemoryCollectionStore.single("f", fdesc, fpts.toIndexedSeq)
    CollectionStores.register("rest_facet_spec", finner)
    val fsrv = new CollectionHttpServer("rest_facet_spec").start()
    try {
      val fclient = new RestCollectionStore(fsrv.baseUrl)
      val g = fclient.facetCounts("f", "m", limit = 10)
      assert(g === finner.facetCounts("f", "m", limit = 10))
      // 0,3,6,9 -> "0"x4; 1,4,7,10 -> "1"x4; 2,5,8 -> "2"x3 (11 is null)
      assert(g === Seq("0" -> 4L, "1" -> 4L, "2" -> 3L))
      // string-valued key, limit truncation, unknown key
      assert(fclient.facetCounts("f", "t", limit = 2) ===
        Seq("c0" -> 4L, "c1" -> 4L))
      assert(fclient.facetCounts("f", "nope", limit = 5) === Seq.empty)
      // targeted exact per-value counts (the threshold merge's second
      // pass) cross the wire: asked values only, absent values omitted
      assert(fclient.facetCountsFor("f", "m", Set("0", "2", "ghost")) ===
        finner.facetCountsFor("f", "m", Set("0", "2", "ghost")))
      assert(fclient.facetCountsFor("f", "m", Set("0", "2", "ghost")) ===
        Map("0" -> 4L, "2" -> 3L))
      assert(fclient.facetCountsFor("f", "m", Set.empty) === Map.empty)
      // FILTERED facets cross the wire: the filter evaluates server-side
      val fpf = PayloadFilter(Seq(PayloadCondition("m", "gte", "1")),
        Nil, None)
      assert(fclient.facetCounts("f", "t", 10, fpf) ===
        finner.facetCounts("f", "t", 10, fpf))
      assert(fclient.facetCounts("f", "t", 10, fpf) ===
        Seq("c1" -> 4L, "c2" -> 3L))
      assert(fclient.facetCountsFor("f", "t", Set("c0", "c2"), fpf) ===
        Map("c2" -> 3L))
    } finally fsrv.stop()
  }

  test("payload must conditions evaluate SERVER-side: scroll, count, search parity") {
    // malformed-payload fixture first: conditions must skip unparseable
    // payloads decisively (match nothing), never fail the request
    assert(client.queryPointsFiltered("c", 0, 20, withPayload = true, Nil,
      None, pfilter = PayloadFilter.mustAll(
        Seq(PayloadCondition("i", "gte", "0")))).toSeq === Seq.empty)
    // a clean-payload collection for the real parity checks
    val fdesc = CollectionDescriptor("pf", Seq(DenseField("v", 2)))
    val fpts = (0 until 20).map { i =>
      Point(f"$i%03d",
        payload = if (i % 4 == 0) None
          else Some(s"""{"i": $i, "t": "c${i % 3}"}"""),
        dense = Map("v" -> Array(i.toFloat, 1f)),
        multi = Map.empty, sparse = Map.empty)
    }
    val finner = InMemoryCollectionStore.single("pf", fdesc, fpts.toIndexedSeq)
    CollectionStores.register("rest_pf_spec", finner)
    val fsrv = new CollectionHttpServer("rest_pf_spec").start()
    try {
      val fclient = new RestCollectionStore(fsrv.baseUrl, pageSize = 6)
      val pf = PayloadFilter.mustAll(Seq(PayloadCondition("i", "gte", "5"),
        PayloadCondition("i", "lt", "12")))
      // scroll: paging + server-side filter, client == inner
      val got = fclient.queryPointsFiltered("pf", 0, 20, withPayload = true,
        Seq("v"), None, pfilter = pf).map(key).toSeq
      val want = finner.queryPointsFiltered("pf", 0, 20, withPayload = true,
        Seq("v"), None, pfilter = pf).map(key).toSeq
      assert(got === want)
      assert(got.map(_._1) === Seq("005", "006", "007", "009", "010", "011"))
      // string match on the keyword field
      val tEq = PayloadFilter.mustAll(Seq(PayloadCondition("t", "eq", "c1")))
      assert(fclient.queryPointsFiltered("pf", 0, 20, withPayload = false,
        Nil, None, pfilter = tEq).map(_.id).toSeq ===
        finner.queryPointsFiltered("pf", 0, 20, withPayload = false,
          Nil, None, pfilter = tEq).map(_.id).toSeq)
      // count: ONE round trip, same number
      assert(fclient.countMatchingFiltered("pf", pfilter = pf) ===
        finner.countMatchingFiltered("pf", pfilter = pf))
      assert(fclient.countMatchingFiltered("pf", pfilter = pf) === 6L)
      // filtered search: filter BEFORE ranking, identical scored pages
      val spec = SearchSpec("v", Array(1.0, 0.0), "cosine", 3)
      val le9 = PayloadFilter.mustAll(Seq(PayloadCondition("i", "lte", "9")))
      val sg = fclient.searchPointsFiltered("pf", spec, withPayload = false,
        Nil, le9)
      val sw = finner.searchPointsFiltered("pf", spec, withPayload = false,
        Nil, le9)
      assert(sg.map { case (p, s) => (p.id, s) } ===
        sw.map { case (p, s) => (p.id, s) })
      assert(sg.map(_._1.id) === Seq("009", "007", "006"))
      // the FULL boolean object round-trips: must + must_not + min_should
      val bf = PayloadFilter(
        must = Seq(PayloadCondition("i", "lt", "12")),
        mustNot = Seq(PayloadCondition("i", "eq", "7")),
        minShould = Some((1, Seq(PayloadCondition("i", "lte", "2"),
          PayloadCondition("i", "gte", "10")))))
      assert(fclient.queryPointsFiltered("pf", 0, 20, withPayload = false,
        Nil, None, pfilter = bf).map(_.id).toSeq ===
        finner.queryPointsFiltered("pf", 0, 20, withPayload = false,
          Nil, None, pfilter = bf).map(_.id).toSeq)
      assert(fclient.countMatchingFiltered("pf", pfilter = bf) ===
        finner.countMatchingFiltered("pf", pfilter = bf))
      assert(fclient.countMatchingFiltered("pf", pfilter = bf) === 4L)
    } finally fsrv.stop()
  }

  test("remote DDL: create/delete collections over the wire with exact config round-trip") {
    val store = InMemoryCollectionStore.single("seed",
      CollectionDescriptor("seed", Seq(DenseField("v", 2))), IndexedSeq.empty)
    CollectionStores.register("rest_ddl_spec", store)
    val srv = new CollectionHttpServer("rest_ddl_spec").start()
    try {
      val c = new RestCollectionStore(srv.baseUrl)
      // a full multi-kind descriptor survives the create -> info round trip
      val desc = CollectionDescriptor("made", Seq(
        DenseField("emb", 4, "dot"), MultiField("colbert", 3),
        SparseField("terms")))
      c.createCollection(desc)
      assert(c.collectionInfo("made") === desc)
      assert(c.pointCount("made") === 0L)
      assert(c.collectionNames.contains("made"))
      // duplicate create: the service's atomic existence check says no
      intercept[IllegalStateException] { c.createCollection(desc) }
      // unnamed single-vector collections keep their shape too
      val un = CollectionDescriptor("bare", Seq(DenseField("vec", 8, "euclid")),
        named = false)
      c.createCollection(un)
      assert(c.collectionInfo("bare") === un)
      // delete: true once, false for the now-absent name
      assert(c.deleteCollection("made") === true)
      assert(c.deleteCollection("made") === false)
      assert(!c.collectionNames.contains("made"))
    } finally {
      srv.stop()
      CollectionStores.remove("rest_ddl_spec")
    }
  }

  test("collection catalog round-trips: names, counts, descriptors") {
    assert(client.collectionNames === inner.collectionNames)
    assert(client.pointCount("c") === 20L)
    assert(client.collectionInfo("c") === desc)
    // unnamed single-vector collection: the bare-config wire shape
    val unnamed = CollectionDescriptor("u", Seq(DenseField("emb", 4, "dot")), named = false)
    CollectionStores.register("rest_inner_spec",
      new InMemoryCollectionStore(
        Map("c" -> desc, "u" -> unnamed),
        Map("c" -> mkPoints(20), "u" -> IndexedSeq.empty)))
    try {
      val fresh = new RestCollectionStore(server.baseUrl) // un-cached descriptor
      assert(fresh.collectionInfo("u") === unnamed)
      assert(fresh.collectionNames === Seq("c", "u"))
    } finally CollectionStores.register("rest_inner_spec", inner)
  }

  test("CDC log replays over the wire: upserts, tombstones, seq, compaction") {
    val log = inner
      .appended("c", IndexedSeq(Point("900", Some("""{"late":1}"""))))
      .removed("c", Set("003"))
    CollectionStores.register("rest_log_spec", log)
    val srv = new CollectionHttpServer("rest_log_spec").start()
    try {
      val c = new RestCollectionStore(srv.baseUrl, pageSize = 8)
      assert(c.logStart("c") === log.logStart("c"))
      assert(c.logSize("c") === log.logSize("c"))
      val g = c.logEntries("c", 0, log.logSize("c"))
        .map(e => (e.op, e.seq, key(e.point))).toSeq
      val w = log.logEntries("c", 0, log.logSize("c"))
        .map(e => (e.op, e.seq, key(e.point))).toSeq
      assert(g === w)
      assert(g.last._1 === LogOps.Delete)
      // compacted store: the wire reports the moved log start and refuses
      // pre-compaction replay exactly like the inner store
      val compacted = log.compacted("c", 10L)
      CollectionStores.register("rest_log_spec", compacted)
      assert(c.logStart("c") === 10L)
      val tail = c.logEntries("c", 10L, c.logSize("c")).map(e => (e.op, e.seq, key(e.point))).toSeq
      val tailW = compacted.logEntries("c", 10L, compacted.logSize("c"))
        .map(e => (e.op, e.seq, key(e.point))).toSeq
      assert(tail === tailW)
      val err = intercept[RuntimeException](c.logEntries("c", 0, 5).toList)
      assert(err.getMessage.contains("compacted"))
    } finally srv.stop()
  }

  test("set_payload over the wire: partial merge, CDC upserts, bad patch rejected") {
    // well-formed JSON payloads (the opaque-bytes fixtures of mkPoints are
    // deliberately malformed; a patch on those must and does fail loudly)
    val pts = IndexedSeq(
      Point("001", Some("""{"i": 1, "s": "keep"}""")),
      Point("002", Some("""{"i": 2}""")),
      Point("004", None))
    val base = InMemoryCollectionStore.single("c", desc, pts)
    CollectionStores.register("rest_patch_spec", base)
    val srv = new CollectionHttpServer("rest_patch_spec").start()
    try {
      val c = new RestCollectionStore(srv.baseUrl)
      c.setPayload("c", Set("001", "004"), """{"i": 99, "fresh": "yes"}""")
      val got = CollectionStores.get("rest_patch_spec")
        .queryPoints("c", 0, 8, withPayload = true, Nil, None)
        .map(p => p.id -> p.payload).toMap
      // 001: i replaced in place, s survives, fresh appends
      assert(got("001") === Some("""{"i":99,"s":"keep","fresh":"yes"}"""))
      // 004 had NO payload: the patch becomes the payload
      assert(got("004") === Some("""{"i":99,"fresh":"yes"}"""))
      // unselected points untouched
      assert(got("002") === Some("""{"i": 2}"""))
      // the rewritten points appended to the change log as upserts
      val mem = CollectionStores.get("rest_patch_spec")
        .asInstanceOf[InMemoryCollectionStore]
      val tail = mem.logEntries("c", mem.logSize("c") - 2, mem.logSize("c"))
        .map(e => (e.op, e.point.id)).toSeq
      assert(tail === Seq((LogOps.Upsert, "001"), (LogOps.Upsert, "004")))
      // a non-object patch fails loudly, mutating nothing
      intercept[RuntimeException](c.setPayload("c", Set("002"), """[1,2]"""))
      assert(CollectionStores.get("rest_patch_spec")
        .queryPoints("c", 0, 8, withPayload = true, Nil, None)
        .map(p => p.id -> p.payload).toMap.apply("002") === got("002"))
      // delete_payload drops named fields (empty object stays a payload);
      // clear_payload removes the payload entirely
      c.deletePayload("c", Set("001"), Set("i", "fresh"))
      c.clearPayload("c", Set("002"))
      val after = CollectionStores.get("rest_patch_spec")
        .queryPoints("c", 0, 8, withPayload = true, Nil, None)
        .map(p => p.id -> p.payload).toMap
      assert(after("001") === Some("""{"s":"keep"}"""))
      assert(after("002") === None)
    } finally srv.stop()
  }

  test("vector mutations over the wire: update merges named fields, delete drops them") {
    val pts = IndexedSeq(
      Point("001", Some("""{"i": 1}"""),
        dense = Map("text_embedding" -> Array(1f, 2f)),
        sparse = Map("keywords" -> (Array(1), Array(0.5f)))),
      Point("002", None, dense = Map("text_embedding" -> Array(3f, 4f))))
    val base = InMemoryCollectionStore.single("c", desc, pts)
    CollectionStores.register("rest_vec_spec", base)
    val srv = new CollectionHttpServer("rest_vec_spec").start()
    try {
      val c = new RestCollectionStore(srv.baseUrl)
      c.updateVectors("c", Seq(
        Point("001", None, dense = Map("text_embedding" -> Array(9f, 8f)))))
      c.deleteVectors("c", Set("002"), Set("text_embedding"))
      val after = CollectionStores.get("rest_vec_spec")
        .queryPoints("c", 0, 8, withPayload = true, allFields, None)
        .map(key).toList.sortBy(_._1)
      // 001: carried field replaced; payload and the sparse field SURVIVE
      assert(after(0) === key(Point("001", Some("""{"i": 1}"""),
        dense = Map("text_embedding" -> Array(9f, 8f)),
        sparse = Map("keywords" -> (Array(1), Array(0.5f))))))
      // 002: named field dropped entirely
      assert(after(1) === key(Point("002", None)))
      // both edits logged as upserts for CDC replay
      val mem = CollectionStores.get("rest_vec_spec")
        .asInstanceOf[InMemoryCollectionStore]
      val tail = mem.logEntries("c", mem.logSize("c") - 2, mem.logSize("c"))
        .map(e => (e.op, e.point.id)).toSeq
      assert(tail === Seq((LogOps.Upsert, "001"), (LogOps.Upsert, "002")))
    } finally srv.stop()
  }

  test("error contract: 404 unknown collection, 501 no change log") {
    val e = intercept[IllegalArgumentException](client.pointCount("nope"))
    assert(e.getMessage.contains("nope"))
    // a store with no change log -> 501 on the wire -> the seam's
    // UnsupportedOperationException resurfaces client-side
    object NoLog extends CollectionStore {
      def collectionInfo(c: String): CollectionDescriptor = desc
      def pointCount(c: String): Long = 0L
      def queryPoints(c: String, from: Long, until: Long, withPayload: Boolean,
                      vectorFields: Seq[String], limit: Option[Int],
                      idFilter: Option[Set[String]], idLower: Option[String]): Iterator[Point] =
        Iterator.empty
    }
    CollectionStores.register("rest_nolog_spec", NoLog)
    val srv = new CollectionHttpServer("rest_nolog_spec").start()
    try {
      val c = new RestCollectionStore(srv.baseUrl)
      intercept[UnsupportedOperationException](c.logSize("c"))
    } finally srv.stop()
    // the binary transport carries both error kinds the same way
    assert(intercept[IllegalArgumentException](
      new GrpcCollectionStore(grpcServer.host, grpcServer.port).pointCount("nope"))
      .getMessage.contains("nope"))
    val gsrv = new CollectionGrpcServer("rest_nolog_spec").start()
    try {
      intercept[UnsupportedOperationException](
        new GrpcCollectionStore(gsrv.host, gsrv.port).logSize("c"))
    } finally gsrv.stop()
  }

  test("connector scan and pushed top-k run unchanged over the REST store") {
    CollectionStores.register("rest_dsv2_spec", client)
    val viaRest = spark.read.format("graft.sources.CollectionDataSource")
      .option("store", "rest_dsv2_spec").option("collection", "c")
      .option("partitions", "3").load()
    CollectionStores.register("rest_dsv2_direct", inner)
    val direct = spark.read.format("graft.sources.CollectionDataSource")
      .option("store", "rest_dsv2_direct").option("collection", "c")
      .option("partitions", "3").load()
    assert(viaRest.schema === direct.schema)
    assert(viaRest.orderBy("id").collect().toSeq === direct.orderBy("id").collect().toSeq)
    // the scored-scan path: search options -> client.searchPoints -> wire
    val restTop = spark.read.format("graft.sources.CollectionDataSource")
      .option("store", "rest_dsv2_spec").option("collection", "c")
      .option("search.field", "text_embedding")
      .option("search.vector", "1.0,0.5")
      .option("search.metric", "cosine").option("search.k", "4").load()
      .select(col("id"), round(col("_score"), 6).as("score"))
    val directTop = spark.read.format("graft.sources.CollectionDataSource")
      .option("store", "rest_dsv2_direct").option("collection", "c")
      .option("search.field", "text_embedding")
      .option("search.vector", "1.0,0.5")
      .option("search.metric", "cosine").option("search.k", "4").load()
      .select(col("id"), round(col("_score"), 6).as("score"))
    assert(restTop.collect().toSeq === directTop.collect().toSeq)
  }

  test("connector writes commit over the wire: upsert, delete, truncate") {
    import spark.implicits._
    CollectionStores.register("rest_write_inner",
      InMemoryCollectionStore.single("w",
        CollectionDescriptor("w", Seq(DenseField("v", 2))), IndexedSeq.empty))
    val srv = new CollectionHttpServer("rest_write_inner").start()
    try {
      val c = new RestCollectionStore(srv.baseUrl)
      CollectionStores.register("rest_write_client", c)
      // batch write THROUGH the connector -> client -> wire -> inner store
      Seq(("a", """{"k":1}""", Seq(1f, 2f)), ("b", """{"k":2}""", Seq(3f, 4f)))
        .toDF("id", "payload", "v")
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "rest_write_client").option("collection", "w")
        .mode("append").save()
      assert(c.pointCount("w") === 2L)
      // upsert semantics: re-writing an id replaces it
      Seq(("a", """{"k":9}""", Seq(5f, 6f))).toDF("id", "payload", "v")
        .write.format("graft.sources.CollectionDataSource")
        .option("store", "rest_write_client").option("collection", "w")
        .mode("append").save()
      val pts = c.queryPoints("w", 0, 10, withPayload = true, Seq("v"), None).toSeq
      assert(pts.map(_.id) === Seq("a", "b"))
      assert(pts.head.payload === Some("""{"k":9}"""))
      assert(pts.head.dense("v").toSeq === Seq(5f, 6f))
      // the change log saw all three upserts (CDC replays remote ingest)
      assert(c.logSize("w") === 3L)
      // client-direct delete + truncate round-trip
      c.deletePoints("w", Set("a"))
      assert(c.pointCount("w") === 1L)
      c.truncate("w")
      assert(c.pointCount("w") === 0L)
      assert(c.logSize("w") === 5L) // 3 upserts + 2 tombstones
    } finally srv.stop()
  }

  test("connector STREAMING write commits epochs over the wire") {
    import spark.implicits._
    CollectionStores.register("rest_swrite_inner",
      InMemoryCollectionStore.single("w",
        CollectionDescriptor("w", Seq(DenseField("v", 2))), IndexedSeq.empty))
    val srv = new CollectionHttpServer("rest_swrite_inner").start()
    try {
      CollectionStores.register("rest_swrite_client",
        new RestCollectionStore(srv.baseUrl))
      val src = (0 until 20).map(i => (i.toString, s"""{"i":$i}""", Seq(i.toFloat, 0f)))
        .toDF("id", "payload", "v")
      val tmp = java.nio.file.Files.createTempDirectory("graft-rest-swrite").toString
      src.write.mode("overwrite").parquet(tmp + "/in")
      val q = spark.readStream.schema(src.schema).parquet(tmp + "/in")
        .writeStream.format("graft.sources.CollectionDataSource")
        .option("store", "rest_swrite_client").option("collection", "w")
        .option("checkpointLocation", tmp + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val c = new RestCollectionStore(srv.baseUrl)
      assert(c.pointCount("w") === 20L)
      assert(c.queryPoints("w", 0, 30, withPayload = true, Seq("v"), None)
        .map(_.id).toSeq === (0 until 20).map(_.toString).sorted)
    } finally srv.stop()
  }

  test("batched queries: one round trip, per-spec results equal the single-query path") {
    val specs = Seq(
      SearchSpec("text_embedding", Array(1.0, 0.5), "cosine", 4),
      SearchSpec("text_embedding", Array(-1.0, 2.0), "dot", 3),
      SearchSpec("text_embedding", Array(0.0, 1.0), "euclid", 5))
    val batched = client.searchPointsBatch("c", specs,
      withPayload = true, Seq("text_embedding"))
    assert(batched.size === specs.size)
    specs.zip(batched).foreach { case (sp, got) =>
      val single = client.searchPoints("c", sp, withPayload = true,
        Seq("text_embedding"))
      assert(got.map { case (p, s) => (key(p), s) } ===
        single.map { case (p, s) => (key(p), s) }, sp.metric)
    }
  }

  test("transient failures retry on reads; mutations stay fail-fast") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    // a gateway that 503s the first two requests of each path+method,
    // then proxies to the real server — the transient-outage shape
    val flaky = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    val fails = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val mutationsSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    flaky.createContext("/", (ex: HttpExchange) => {
      val key = ex.getRequestMethod + " " + ex.getRequestURI.getPath
      val n = fails.merge(key, 1, (a, b) => a + b)
      if (ex.getRequestMethod != "GET") mutationsSeen.incrementAndGet()
      if (n <= 2) {
        ex.sendResponseHeaders(503, -1); ex.close()
      } else {
        // proxy: replay against the healthy server
        val c = HttpClient.newHttpClient()
        val b = new String(ex.getRequestBody.readAllBytes())
        val req = HttpRequest.newBuilder(
            URI.create(server.baseUrl + ex.getRequestURI.toString))
          .method(ex.getRequestMethod,
            if (b.isEmpty) HttpRequest.BodyPublishers.noBody()
            else HttpRequest.BodyPublishers.ofString(b))
          .build()
        val resp = c.send(req, HttpResponse.BodyHandlers.ofString())
        val bytes = resp.body().getBytes("UTF-8")
        ex.sendResponseHeaders(resp.statusCode(), bytes.length.toLong)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    flaky.start()
    try {
      val url = s"http://127.0.0.1:${flaky.getAddress.getPort}"
      // reads ride out the outage (2 x 503 then success)
      val c = new RestCollectionStore(url, maxRetries = 3, retryBackoffMs = 1L)
      assert(c.pointCount("c") === 20L)
      // with retries disabled the same outage surfaces immediately
      val strict = new RestCollectionStore(url, maxRetries = 0)
      val e = intercept[RuntimeException](strict.collectionNames)
      assert(e.getMessage.contains("503"))
      // mutations never auto-retry: one wire attempt, the 503 surfaces
      val before = mutationsSeen.get()
      intercept[RuntimeException](c.deletePoints("c", Set("007")))
      assert(mutationsSeen.get() === before + 1)
    } finally flaky.stop(0)
  }

  test("snapshot/restore of a REMOTE collection composes through the connector") {
    CollectionStores.register("rest_snap_src", client)
    val path = java.nio.file.Files.createTempDirectory("graft-rest-snap").toString
    graft.collections.Snapshot.create(spark, "rest_snap_src", "c", path)
    val restored = graft.collections.Snapshot.restore(
      spark, path, "rest_snap_restored", "c2")
    assert(CollectionStores.get("rest_snap_restored").collectionInfo("c2").fields
      === desc.fields)
    assert(restored.count() === 20L)
    CollectionStores.register("rest_snap_direct", inner)
    val direct = spark.read.format("graft.sources.CollectionDataSource")
      .option("store", "rest_snap_direct").option("collection", "c")
      .option("partitions", "3").load()
    assert(restored.orderBy("id").collect().toSeq ===
      direct.orderBy("id").collect().toSeq)
  }

  test("storage snapshot + recover over the wire: the service swaps to a serve-ready store") {
    import spark.implicits._
    // a parquet-backed service with a graph sidecar + changelog
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft-rest-ssnap").toString
    val dd = CollectionDescriptor("sc",
      Seq(DenseField("vector", 2)), named = false)
    val df = (0 until 40).map { i =>
      val a = (i + 1) * 0.157
      (f"$i%03d", s"""{"g":${i % 2}}""",
        Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("id", "payload", "vector")
    ParquetCollectionStore.write(df, pqDir, numFiles = 1, withLog = true)
    ParquetCollectionStore.writeHnswSidecar(df, pqDir, field = "vector",
      m = 4, efConstruction = 16, numSegments = 1)
    CollectionStores.register("rest_ssnap_backend",
      new ParquetCollectionStore(pqDir, "sc", dd, hnswEf = 1024))
    val srv = new CollectionHttpServer("rest_ssnap_backend").start()
    try {
      val c = new RestCollectionStore(srv.baseUrl)
      // churn through the wire, then archive + recover service-side
      val q = Array(0.6, 0.8)
      c.upsertPoints("sc", Seq(Point("winner", Some("""{"g":1}"""),
        dense = Map("vector" -> q.map(_.toFloat)))))
      c.deletePoints("sc", Set("003"))
      val want = c.searchPoints("sc",
        SearchSpec("vector", q, "cosine", 5), withPayload = false, Nil)
        .map(p => (p._1.id, p._2))
      val arch = java.nio.file.Files
        .createTempDirectory("graft-rest-ssnap-arch").toString
      c.snapshotStorage("sc", arch)
      // the archive carries the tree (index + manifest), service-side
      assert(new java.io.File(s"$arch/storage/_hnsw/field.txt").isFile)
      val dst = java.nio.file.Files
        .createTempDirectory("graft-rest-ssnap-dst").toString
      c.recoverStorageSnapshot("sc", arch, dst, hnswEf = 1024)
      // the swapped-in store answers identically over the same client
      val got = c.searchPoints("sc",
        SearchSpec("vector", q, "cosine", 5), withPayload = false, Nil)
        .map(p => (p._1.id, p._2))
      assert(got === want)
      assert(got.head._1 === "winner")
      // and it IS the recovered store, serving graph-side with the
      // primaries closed (the snapshot carried the index, serve-ready)
      val swapped = CollectionStores.get("rest_ssnap_backend")
        .asInstanceOf[ParquetCollectionStore]
      assert(swapped.dir === dst)
      assert(swapped.hnswSegmentsLoaded.get() > 0L)
      assert(swapped.filesOpened.get() === 0L)
    } finally srv.stop()
  }

  test("catalog SQL resolves a REMOTE collection by table name") {
    // the TableCatalog's store entry can BE the wire client: plain SQL
    // addresses the remote collection, catalog listings come from the
    // service's /collections, and pushdown still narrows the wire fetch
    CollectionStores.register("rest_cat_store", client)
    spark.conf.set("spark.sql.catalog.rest_cat",
      "graft.sources.CollectionCatalog")
    spark.conf.set("spark.sql.catalog.rest_cat.store", "rest_cat_store")
    val out = spark.sql(
      "SELECT id FROM rest_cat.c WHERE id > '017' ORDER BY id")
    assert(out.collect().map(_.getString(0)).toSeq === Seq("018", "019"))
    assert(spark.sql("SHOW TABLES IN rest_cat").collect()
      .map(_.getString(1)).contains("c"))
  }

  test("connector STREAMING read replays the store's CDC log over the wire") {
    CollectionStores.register("rest_stream_spec", client)
    val out = java.nio.file.Files.createTempDirectory("graft-rest-stream").toString
    val q = spark.readStream.format("graft.sources.CollectionDataSource")
      .option("store", "rest_stream_spec").option("collection", "c")
      .option("maxRowsPerBatch", "7").load()
      .writeStream.format("memory").queryName("rest_cdc")
      .option("checkpointLocation", out + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("rest_cdc").count()
    assert(got === inner.logSize("c"))
  }

  test("remote LAKEHOUSE writes over JSON: the service applies COW batches to the parquet backend") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rest-lakew").toString
    ParquetCollectionStore.initEmpty(dir)
    val d2 = CollectionDescriptor("lw", Seq(DenseField("v", 2)))
    CollectionStores.register("rest_lakew_backend",
      new ParquetCollectionStore(dir, "lw", d2))
    val srv = new CollectionHttpServer("rest_lakew_backend").start()
    try {
      val cl = new RestCollectionStore(srv.baseUrl)
      cl.upsertPoints("lw", Seq(
        Point("a", Some("""{"x":1}"""), dense = Map("v" -> Array(1f, 0f))),
        Point("b", None, dense = Map("v" -> Array(0f, 1f)))))
      assert(cl.pointCount("lw") === 2L)
      cl.deletePoints("lw", Set("a"))
      assert(cl.queryPoints("lw", 0, 2, withPayload = true, Seq("v"), None)
        .map(_.id).toSeq === Seq("b"))
      // the mutations landed as COW + log segments on DISK: a fresh
      // store on the same dir replays the same state and history
      val reopened = new ParquetCollectionStore(dir, "lw", d2)
      assert(reopened.pointCount("lw") === 1L)
      assert(reopened.logEntries("lw", 0, reopened.logSize("lw"))
        .map(e => (e.op, e.point.id)).toSeq ===
        Seq(("upsert", "a"), ("upsert", "b"), ("delete", "a")))
    } finally srv.stop()
  }

  test("ranked full-text crosses the wire in one round trip, equal to the local serve") {
    val pts = (0 until 12).map { i =>
      Point(f"$i%03d", Some(s"""{"body":"tok${i % 3} tok${i % 4} filler$i"}"""),
        Map.empty)
    }
    val st = InMemoryCollectionStore.single("tr",
      CollectionDescriptor("tr", Seq.empty), pts)
    CollectionStores.register("rest_tr_spec", st)
    val srv = new CollectionHttpServer("rest_tr_spec").start()
    try {
      val cl = new RestCollectionStore(srv.baseUrl)
      val want = st.searchTextRanked("tr", "body", Seq("tok1", "tok2"), 5)
      val got = cl.searchTextRanked("tr", "body", Seq("tok1", "tok2"), 5)
      assert(got === want)
      assert(got.nonEmpty)
      // non-default dials ship too
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
      // a malformed phase-2 frame (dfs shorter than terms) must come
      // back as a CLEAN validation status with the arity message — not
      // a 500 from indexing past the idf array mid-scoring
      val http = HttpClient.newHttpClient()
      val resp = http.send(
        HttpRequest.newBuilder(
          URI.create(s"${srv.baseUrl}/collections/tr/points/textrank/topk"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"key":"body","terms":["tok1","tok2"],"k":5,"n":12,"total":36,"dfs":[4]}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() !== 500, resp.body())
      assert(resp.body().contains("dfs"), resp.body())
    } finally srv.stop()
  }

  test("optimize and snapshot verbs over JSON: passthrough stores ack, snapshot exports service-side") {
    CollectionStores.register("rest_opt_spec", inner)
    val srv = new CollectionHttpServer("rest_opt_spec").start()
    try {
      val cl = new RestCollectionStore(srv.baseUrl)
      // in-memory store: no sidecars to rebuild — the verb acks and the
      // registered store passes through untouched
      cl.optimize()
      assert(CollectionStores.get("rest_opt_spec") eq inner)
      // snapshot verb: the artifact lands at the SERVICE-side path and a
      // local restore reproduces the collection
      val snap = java.nio.file.Files
        .createTempDirectory("graft-rest-snap").toString
      cl.snapshot("c", snap)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(snap, "MANIFEST")))
      val restored = graft.collections.Snapshot.restore(
        spark, snap, "rest_snap_restore_spec", "c2")
      assert(restored.count() === inner.pointCount("c"))
      // unknown collection refuses cleanly (404 -> the validation kind)
      intercept[IllegalArgumentException] { cl.snapshot("nope", snap) }
    } finally srv.stop()
  }

  test("api-key auth: keyed server refuses unkeyed/wrong-key requests (401), keyed client is unaffected") {
    CollectionStores.register("rest_auth_spec", inner)
    val srv = new CollectionHttpServer("rest_auth_spec",
      apiKey = Some("sekrit")).start()
    try {
      // authorized client: reads exactly what the open server serves
      val keyed = new RestCollectionStore(srv.baseUrl, apiKey = Some("sekrit"))
      assert(keyed.pointCount("c") === 20L)
      assert(keyed.queryPoints("c", 0, 20, withPayload = true, allFields, None)
        .map(key).toSeq ===
        inner.queryPoints("c", 0, 20, withPayload = true, allFields, None)
          .map(key).toSeq)
      // unkeyed client: every request fails LOUDLY with the auth kind
      val unkeyed = new RestCollectionStore(srv.baseUrl)
      val e1 = intercept[SecurityException] { unkeyed.pointCount("c") }
      assert(e1.getMessage.contains("api-key"))
      // wrong key is the same refusal (not a different error path)
      val wrong = new RestCollectionStore(srv.baseUrl, apiKey = Some("nope"))
      intercept[SecurityException] { wrong.collectionNames }
      // raw HTTP sees the literal 401 + error envelope
      val http = HttpClient.newHttpClient()
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(s"${srv.baseUrl}/collections"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 401)
      assert(resp.body().contains("unauthorized"))
      // mutations refuse BEFORE touching the store
      intercept[SecurityException] {
        unkeyed.deletePoints("c", Set("000"))
      }
      assert(inner.pointCount("c") === 20L)
    } finally srv.stop()
  }

  test("REST searches do not wait on delayed ACKs: the server sends with TCP_NODELAY") {
    val spec = SearchSpec("text_embedding", Array(1.0, 0.5), "cosine", 4)
    (0 until 5).foreach(_ => client.searchPoints("c", spec, withPayload = true,
      allFields))
    val ms = (0 until 40).map { _ =>
      val t0 = System.nanoTime()
      client.searchPoints("c", spec, withPayload = true, allFields)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val p75 = ms(29)
    assert(p75 < 20.0, f"p75 $p75%.1f ms over 40 searches: ${ms.mkString(", ")}")
    assert(CollectionHttpServer.noDelay)
  }
}
