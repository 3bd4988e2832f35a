package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.collections._
import graft.sources._

/** Cross-transport parity: every verb the two wire transports share runs
  * through a [[RestCollectionStore]] and a [[GrpcCollectionStore]]
  * fronting the SAME store, and both answer alike — equal results (equal
  * to the fronted store's own answer), and the same exception class for
  * an unknown collection, a wrong api-key, and a write a read-only store
  * refuses. One verb table, two codecs.
  */
class WireParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  private val Key = "sekrit"
  private val desc = CollectionDescriptor("c", Seq(
    DenseField("v", 2), MultiField("m", 2), SparseField("kw")))
  private val allFields = Seq("v", "m", "kw")

  private def mkPoint(i: Int): Point = Point(f"$i%03d",
    if (i % 5 == 0) None
    else Some(s"""{"i":$i,"g":"${"abc" (i % 3)}","body":"tok${i % 3} tok${i % 4} filler$i"}"""),
    dense = Map("v" -> Array(i.toFloat, 1f + i % 7)),
    multi = if (i % 3 == 0) Map("m" -> Array(Array(1f, 2f), Array(3f, i.toFloat))) else Map.empty,
    sparse = if (i % 2 == 0) Map("kw" -> (Array(1, 5), Array(0.1f, i * 0.9f))) else Map.empty)

  // a change log with upserts, a re-upsert and a tombstone
  private lazy val inner = InMemoryCollectionStore.single("c", desc, (0 until 24).map(mkPoint))
    .appended("c", IndexedSeq(mkPoint(7).copy(payload = Some("""{"i":70}"""))))
    .removed("c", Set("003"))

  /** Both transports' servers over one registered store, keyed or not. */
  private final class Fronted(name: String, store: CollectionStore, key: Option[String]) {
    CollectionStores.register(name, store)
    val http = new CollectionHttpServer(name, apiKey = key).start()
    val grpc = new CollectionGrpcServer(name, apiKey = key).start()
    def clients(k: Option[String] = key): Seq[(String, WireCollectionClient)] = Seq(
      "rest" -> new RestCollectionStore(http.baseUrl, pageSize = 5, apiKey = k),
      "grpc" -> new GrpcCollectionStore(grpc.host, grpc.port, pageSize = 5, apiKey = k))
    def stop(): Unit = { http.stop(); grpc.stop() }
  }

  private lazy val fronted = new Fronted("wire_parity_spec", inner, Some(Key))
  private var extra = List.empty[Fronted]
  private def front(name: String, store: CollectionStore): Fronted = {
    val f = new Fronted(name, store, None)
    extra ::= f
    f
  }

  override def afterAll(): Unit = (fronted :: extra).foreach(_.stop())

  /** Structural forms (arrays compare by reference otherwise). */
  private def key(p: Point) = (p.id, p.payload,
    p.dense.view.mapValues(_.toSeq).toMap,
    p.multi.view.mapValues(_.map(_.toSeq).toSeq).toMap,
    p.sparse.view.mapValues { case (i, v) => (i.toSeq, v.toSeq) }.toMap)
  private def keys(it: IterableOnce[Point]) = it.iterator.map(key).toList
  private def scored(r: Seq[(Point, Double)]) = r.map { case (p, s) => (key(p), s) }

  private val pf = PayloadFilter(Seq(PayloadCondition("i", "gte", "6")),
    Seq(PayloadCondition("g", "eq", "b")), None)
  private val dense = SearchSpec("v", Array(3.0, 2.0), "cosine", 5)
  private val paged = dense.copy(k = 3, offset = 2, scoreThreshold = Some(0.5))
  private val sparse = SearchSpec("kw", Array(1.0, 2.0), "dot", 4,
    sparseIndices = Some(Array(1, 5)))
  private val multiRows = Array(Array(1.0, 2.0), Array(3.0, 4.0))
  private val multi = SearchSpec("m", SearchSpec.poolRows(multiRows), "dot", 3,
    multiQuery = Some(multiRows))
  private val terms = Seq("tok1", "tok2")

  /** Every shared read verb, its result in comparable form. */
  private val reads: Seq[(String, CollectionStore => Any)] = Seq(
    "collectionInfo" -> (_.collectionInfo("c")),
    "pointCount" -> (_.pointCount("c")),
    "countMatching" -> (_.countMatching("c", Some(Set("001", "002", "003", "099")), Some("001"))),
    "countMatchingFiltered" -> (_.countMatchingFiltered("c", None, None, pf)),
    "queryPoints window" -> (s => keys(s.queryPoints("c", 2, 17, withPayload = true, allFields, None))),
    "queryPointsFiltered limit + keyset + filter" -> (s => keys(s.queryPointsFiltered("c", 0,
      s.pointCount("c"), withPayload = true, Seq("v"), Some(3), None, Some("004"), pf))),
    "queryPoints id set" -> (s => keys(s.queryPoints("c", 0, s.pointCount("c"),
      withPayload = false, Seq("kw"), None, Some(Set("000", "003", "008", "013", "020", "021", "022"))))),
    "searchPoints dense" -> (s => scored(s.searchPoints("c", dense, withPayload = true, allFields))),
    "searchPoints offset + threshold" -> (s => scored(s.searchPoints("c", paged, withPayload = false, Nil))),
    "searchPoints sparse" -> (s => scored(s.searchPoints("c", sparse, withPayload = false, Seq("kw")))),
    "searchPoints multi" -> (s => scored(s.searchPoints("c", multi, withPayload = false, Nil))),
    "searchPointsFiltered" -> (s => scored(s.searchPointsFiltered("c", dense, withPayload = true, Nil, pf))),
    "facetCounts" -> (_.facetCounts("c", "g", 5, pf)),
    "facetCountsFor" -> (_.facetCountsFor("c", "g", Set("a", "b", "zz"))),
    "searchTextRanked" -> (_.searchTextRanked("c", "body", terms, 5, k1 = 2.0, b = 0.5)),
    "textRankPartials" -> { s =>
      val p = s.textRankPartials("c", "body", terms)
      (p.n, p.totalLen, p.dfs.toSeq, p.docs.map { case (id, tfs, dl) => (id, tfs.toSeq, dl) })
    },
    "textRankStats" -> { s =>
      val st = s.textRankStats("c", "body", terms)
      (st.n, st.totalLen, st.dfs.toSeq)
    },
    "textRankTopK" -> (s => s.textRankTopK("c", "body", terms, 4, s.textRankStats("c", "body", terms))),
    "logStart" -> (_.logStart("c")),
    "logSize" -> (_.logSize("c")),
    "logEntries" -> (s => s.logEntries("c", 0, s.logSize("c")).map(e => (e.op, e.seq, key(e.point))).toList))

  test("every shared read verb answers alike through both transports") {
    for ((name, verb) <- reads) {
      val want = verb(inner)
      fronted.clients().foreach { case (t, cl) => assert(verb(cl) === want, s"$name over $t") }
    }
    // the batch verb is client-only: each page equals the single-query path
    val specs = Seq(dense, paged, sparse, multi)
    fronted.clients().foreach { case (t, cl) =>
      assert(cl.searchPointsBatch("c", specs, withPayload = true, Seq("v")).map(scored) ===
        specs.map(sp => scored(inner.searchPoints("c", sp, withPayload = true, Seq("v")))), t)
    }
  }

  /** Every shared write verb on collection `c`, applied in this order. */
  private val writes: Seq[(String, (WireCollectionClient, String) => Unit)] = Seq(
    "upsertPoints" -> (_.upsertPoints(_, Seq(mkPoint(30), mkPoint(1).copy(payload = Some("""{"i":100}"""))))),
    "deletePoints" -> (_.deletePoints(_, Set("002", "404"))),
    "compact" -> (_.compact(_, 4L)),
    "truncate" -> (_.truncate(_)))

  private def state(s: CollectionStore) = (keys(s.queryPoints("c", 0, s.pointCount("c"),
    withPayload = true, allFields, None)), s.logStart("c"), s.logSize("c"),
    s.logEntries("c", s.logStart("c"), s.logSize("c")).map(e => (e.op, e.seq, e.point.id)).toList)

  test("every shared write verb lands alike through both transports") {
    val sides = Seq("rest", "grpc").map { t =>
      val f = front(s"wire_parity_write_$t", InMemoryCollectionStore.single("c", desc,
        (0 until 6).map(mkPoint)))
      t -> f.clients().toMap.apply(t)
    }
    for ((name, write) <- writes) {
      sides.foreach { case (_, cl) => write(cl, "c") }
      val Seq(rest, grpc) = sides.map(t => state(CollectionStores.get(s"wire_parity_write_${t._1}")))
      assert(rest === grpc, name)
    }
    assert(sides.forall(_._2.pointCount("c") == 0L))
  }

  test("an unknown collection fails as IllegalArgumentException on both transports") {
    val verbs: Seq[(String, CollectionStore => Any)] = Seq(
      "collectionInfo" -> (_.collectionInfo("nope")),
      "pointCount" -> (_.pointCount("nope")),
      "countMatching" -> (_.countMatching("nope", None, Some("1"))),
      "queryPoints" -> (_.queryPoints("nope", 0, 5, withPayload = true, Nil, None).toList),
      "searchPoints" -> (_.searchPoints("nope", dense, withPayload = false, Nil)),
      "facetCounts" -> (_.facetCounts("nope", "g", 5)),
      "facetCountsFor" -> (_.facetCountsFor("nope", "g", Set("a"))),
      "searchTextRanked" -> (_.searchTextRanked("nope", "body", terms, 3)),
      "textRankStats" -> (_.textRankStats("nope", "body", terms)),
      "logEntries" -> (_.logEntries("nope", 0, 5).toList))
    for ((t, cl) <- fronted.clients()) {
      for ((name, verb) <- verbs)
        withClue(s"$name over $t") { intercept[IllegalArgumentException](verb(cl)) }
      for ((name, write) <- writes)
        withClue(s"$name over $t") { intercept[IllegalArgumentException](write(cl, "nope")) }
    }
  }

  test("a wrong api-key fails as SecurityException on both transports, before the store") {
    for (k <- Seq(Some("wrong"), None); (t, cl) <- fronted.clients(k)) {
      for ((name, verb) <- reads)
        withClue(s"$name over $t keyed $k") { intercept[SecurityException](verb(cl)) }
      for ((name, write) <- writes)
        withClue(s"$name over $t keyed $k") { intercept[SecurityException](write(cl, "c")) }
    }
    assert(CollectionStores.get("wire_parity_spec") eq inner)
  }

  test("a write a read-only store refuses fails as UnsupportedOperationException on both transports") {
    // a store that serves reads but takes no mutation (not in-memory, not
    // parquet, not a remote client)
    val readOnly = new CollectionStore {
      def collectionInfo(c: String): CollectionDescriptor = inner.collectionInfo(c)
      def pointCount(c: String): Long = inner.pointCount(c)
      def queryPoints(c: String, from: Long, until: Long, withPayload: Boolean,
                      vectorFields: Seq[String], limit: Option[Int],
                      idFilter: Option[Set[String]], idLower: Option[String]): Iterator[Point] =
        inner.queryPoints(c, from, until, withPayload, vectorFields, limit, idFilter, idLower)
    }
    val f = front("wire_parity_readonly", readOnly)
    for ((name, write) <- writes; (t, cl) <- f.clients())
      withClue(s"$name over $t") { intercept[UnsupportedOperationException](write(cl, "c")) }
    assert(CollectionStores.get("wire_parity_readonly") eq readOnly)
  }
}
