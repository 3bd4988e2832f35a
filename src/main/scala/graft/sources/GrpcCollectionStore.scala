package graft.sources

import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import graft.collections.{CollectionDescriptor, DenseField, MultiField, SparseField}

/** Binary protobuf codec for the collection protocol — the TRANSPORT
  * VARIANT of [[CollectionWire]]'s HTTP/JSON surface, modeled on the
  * public Qdrant gRPC API the reference's client actually speaks
  * (/root/reference/src/table.rs:133,301-302 via the `qdrant-client`
  * crate: `UpsertPointsBuilder`, `QueryPointsBuilder`, scroll/count —
  * same operations, same semantics). Each [[StoreVerb]] is one method
  * name plus one request message, answered by one response message.
  * Messages are hand-sealed with [[PbWriter]]/[[PbFields]] (the runtime
  * classpath has no protobuf-java or grpc-java; the wire FORMAT is a
  * public spec), and frames are length-delimited over a plain socket —
  * gRPC's message framing without the HTTP/2 envelope, which adds flow
  * control, not semantics. The message field layout is this protocol's
  * own (a faithful subset shaped after qdrant's `PointStruct` /
  * named-vectors model, not a claim of binary compatibility with
  * qdrant.proto).
  *
  * Payload fidelity rule carried over from the JSON wire: payload
  * crosses as the RAW JSON TEXT bytes — no re-parse, no re-serialize,
  * so the oracle gates' byte-for-byte payload comparison survives the
  * transport.
  */
private[sources] object GrpcWire {
  import StoreVerb._

  // ------------------------------------------------------------ frames --

  /** Varint-length-delimited chunk (protobuf's own delimited convention). */
  def writeDelimited(out: java.io.OutputStream, b: Array[Byte]): Unit = {
    var v = b.length
    while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
    out.write(v)
    out.write(b)
  }

  def readDelimited(in: java.io.InputStream): Array[Byte] = {
    var shift = 0
    var n = 0
    var b = 0
    do {
      b = in.read()
      require(b >= 0, "connection closed mid-frame")
      n |= (b & 0x7f) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    val out = in.readNBytes(n)
    require(out.length == n, "connection closed mid-frame")
    out
  }

  // ------------------------------------------------------------- point --

  /** PointStruct: 1=id, 2=payload raw-JSON text (6 marks presence, so a
    * present-but-empty payload survives), 3=named dense, 4=named sparse,
    * 5=named multi — qdrant's named-vectors point shape.
    */
  def encodePoint(p: Point): PbWriter = {
    val w = new PbWriter
    w.string(1, p.id)
    p.payload.foreach { pl => w.bool(6, b = true); w.string(2, pl) }
    p.dense.toSeq.sortBy(_._1).foreach { case (n, v) =>
      w.message(3, new PbWriter().string(1, n).packedFloats(2, v))
    }
    p.sparse.toSeq.sortBy(_._1).foreach { case (n, (di, dv)) =>
      w.message(4, new PbWriter().string(1, n).packedInts(2, di)
        .packedFloats(3, dv))
    }
    p.multi.toSeq.sortBy(_._1).foreach { case (n, rows) =>
      val m = new PbWriter().string(1, n)
      rows.foreach(r => m.packedFloats(2, r))
      w.message(5, m)
    }
    w
  }

  /** The hot decode (every fetched point): a direct tag loop. */
  def decodePoint(r: PbReader): Point = {
    var id = ""
    var payload: Option[String] = None
    var hasPayload = false
    var payloadText = ""
    val dense = Map.newBuilder[String, Array[Float]]
    val sparse = Map.newBuilder[String, (Array[Int], Array[Float])]
    val multi = Map.newBuilder[String, Array[Array[Float]]]
    while (r.hasNext) r.readTag() match {
      case (1, _) => id = r.readString()
      case (2, _) => payloadText = r.readString()
      case (6, _) => hasPayload = r.readRawVarint() != 0L
      case (3, _) =>
        val m = r.readMessage()
        var n = ""
        var v: Array[Float] = Array.empty
        while (m.hasNext) m.readTag() match {
          case (1, _) => n = m.readString()
          case (2, _) => v = m.readPackedFloats()
          case (_, w) => m.skip(w)
        }
        dense += n -> v
      case (4, _) =>
        val m = r.readMessage()
        var n = ""
        var di: Array[Int] = Array.empty
        var dv: Array[Float] = Array.empty
        while (m.hasNext) m.readTag() match {
          case (1, _) => n = m.readString()
          case (2, _) => di = m.readPackedInts()
          case (3, _) => dv = m.readPackedFloats()
          case (_, w) => m.skip(w)
        }
        sparse += n -> ((di, dv))
      case (5, _) =>
        val m = r.readMessage()
        var n = ""
        val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        while (m.hasNext) m.readTag() match {
          case (1, _) => n = m.readString()
          case (2, _) => rows += m.readPackedFloats()
          case (_, w) => m.skip(w)
        }
        multi += n -> rows.toArray
      case (_, w) => r.skip(w)
    }
    if (hasPayload) payload = Some(payloadText)
    Point(id, payload, dense.result(), multi.result(), sparse.result())
  }

  // ------------------------------------------------------------ filter --

  /** Filter: 1=must, 2=must_not (both in the engine's condition-DSL
    * text form — [[PayloadCondition.serializeList]]'s escaped encoding,
    * the SAME strings the read options carry), 3=min_count,
    * 4=min_should conditions.
    */
  def encodeFilter(pf: PayloadFilter): PbWriter = {
    val w = new PbWriter
    if (pf.must.nonEmpty) w.string(1, PayloadCondition.serializeList(pf.must))
    if (pf.mustNot.nonEmpty)
      w.string(2, PayloadCondition.serializeList(pf.mustNot))
    pf.minShould.foreach { case (n, cs) =>
      w.int(3, n.toLong); w.string(4, PayloadCondition.serializeList(cs))
    }
    w
  }

  def decodeFilter(f: PbFields): PayloadFilter = {
    def conds(n: Int) = if (f.has(n)) PayloadCondition.parseList(f.str(n)) else Nil
    val minConds = conds(4)
    PayloadFilter(conds(1), conds(2),
      if (minConds.nonEmpty) Some((f.int(3), minConds)) else None)
  }

  // -------------------------------------------------------------- spec --

  /** SearchSpec: 1=field, 2=packed double query, 3=metric, 4=k,
    * 5=offset, 6=threshold (7 marks presence), 8=packed sparse dims
    * (9 marks a sparse query), 10=repeated MULTI-QUERY rows (each a
    * nested message with packed doubles at 1 — the MaxSim row set;
    * field 2 carries the pooled candidate key alongside, so the server
    * re-derives nothing).
    */
  def encodeSpec(spec: SearchSpec): PbWriter = {
    val w = new PbWriter
    w.string(1, spec.field).packedDoubles(2, spec.query)
      .string(3, spec.metric).int(4, spec.k.toLong)
    if (spec.offset > 0) w.int(5, spec.offset.toLong)
    spec.scoreThreshold.foreach { t => w.bool(7, b = true); w.double(6, t) }
    spec.sparseIndices.foreach { qi =>
      w.bool(9, b = true); w.packedInts(8, qi)
    }
    spec.multiQuery.foreach(_.foreach { row =>
      w.message(10, new PbWriter().packedDoubles(1, row))
    })
    w
  }

  def decodeSpec(f: PbFields): SearchSpec = {
    val rows = f.fields(10).map(_.slice(1).doubles()).toArray
    SearchSpec(f.str(1), f.slice(2).doubles(), f.str(3, "cosine"), f.int(4, 1),
      f.int(5), if (f.bool(7)) Some(f.double(6)) else None,
      if (f.bool(9)) Some(f.slice(8).ints()) else None,
      if (rows.isEmpty) None else Some(rows))
  }

  // -------------------------------------------------------- descriptor --

  /** CollectionDescriptor: 1=name, 2=repeated field {1=name, 2=kind
    * (0 dense / 1 sparse / 2 multi), 3=dim, 4=metric}, 3=named.
    */
  def encodeDescriptor(d: CollectionDescriptor): PbWriter = {
    val w = new PbWriter
    w.string(1, d.name)
    d.fields.foreach { f =>
      val m = new PbWriter().string(1, f.name)
      f match {
        case DenseField(_, dim, metric) =>
          m.int(2, 0L).int(3, dim.toLong).string(4, metric)
        case _: SparseField => m.int(2, 1L)
        case MultiField(_, dim) => m.int(2, 2L).int(3, dim.toLong)
      }
      w.message(2, m)
    }
    w.bool(3, d.named)
    w
  }

  def decodeDescriptor(f: PbFields): CollectionDescriptor =
    CollectionDescriptor(f.str(1), f.fields(2).map { m =>
      m.int(2) match {
        case 0 => DenseField(m.str(1), m.int(3), m.str(4, "cosine"))
        case 1 => SparseField(m.str(1))
        case 2 => MultiField(m.str(1), m.int(3))
        case other => throw new IllegalArgumentException(s"unknown field kind $other")
      }
    }, f.bool(3))

  // ---------------------------------------------------------- requests --

  /** Id-filter arguments: the id set at field `at` (`at + 1` marks its
    * presence, so an empty set survives) and the keyset lower bound at
    * `at + 2` (`at + 3` marks presence).
    */
  private def idArgs(w: PbWriter, ids: Option[Set[String]], lower: Option[String],
                     at: Int): PbWriter = {
    ids.foreach { s => w.bool(at + 1, b = true); s.toSeq.sorted.foreach(w.string(at, _)) }
    lower.foreach { b => w.bool(at + 3, b = true); w.string(at + 2, b) }
    w
  }

  private def idsOf(f: PbFields, at: Int): (Option[Set[String]], Option[String]) =
    (if (f.bool(at + 1)) Some(f.strs(at).toSet) else None,
      if (f.bool(at + 3)) Some(f.str(at + 2)) else None)

  private def filterArg(w: PbWriter, at: Int, pf: PayloadFilter): PbWriter =
    if (pf.nonEmpty) w.message(at, encodeFilter(pf)) else w

  private def textArgs(c: String, key: String, terms: Seq[String]): PbWriter = {
    val w = new PbWriter().string(1, c).string(2, key)
    terms.foreach(w.string(3, _))
    w
  }

  private def on(c: String): PbWriter = new PbWriter().string(1, c)

  /** verb -> (method name, request message). Field layouts per method:
    * `c` is field 1 wherever a collection is named; see each arm.
    */
  def request(v: StoreVerb[_]): (String, PbWriter) = v match {
    case Names() => ("names", new PbWriter)
    case Info(c) => ("info", on(c))
    case Count(c) => ("count", on(c))
    case CountFiltered(c, ids, lower, pf) =>
      ("count_filtered", filterArg(idArgs(on(c), ids, lower, 2), 6, pf))
    // 2/3 = window, 4 = with payload, 5 = vector fields, 8-11 = id
    // filter, 12 = payload filter, 13 = remaining limit
    case Scroll(c, from, until, wp, vf, limit, ids, lower, pf) =>
      val w = on(c).int(2, from).int(3, until).bool(4, wp)
      vf.foreach(w.string(5, _))
      filterArg(idArgs(w, ids, lower, 8), 12, pf)
      limit.foreach(n => w.int(13, n.toLong))
      ("scroll", w)
    case Search(c, spec, wp, vf, pf) =>
      val w = on(c).message(2, encodeSpec(spec)).bool(3, wp)
      vf.foreach(w.string(4, _))
      ("search", filterArg(w, 5, pf))
    case SearchBatch(c, specs, wp, vf) =>
      val w = on(c).bool(3, wp)
      specs.foreach(sp => w.message(2, encodeSpec(sp)))
      vf.foreach(w.string(4, _))
      ("search_batch", w)
    case Facet(c, key, limit, pf) =>
      ("facet", filterArg(on(c).string(2, key).int(3, limit.toLong), 4, pf))
    case FacetFor(c, key, values, pf) =>
      val w = on(c).string(2, key)
      values.toSeq.sorted.foreach(w.string(3, _))
      ("facet_for", filterArg(w, 4, pf))
    case TextRanked(c, key, terms, k, k1, b) =>
      ("textrank", textArgs(c, key, terms).int(4, k.toLong).double(5, k1).double(6, b))
    case TextPartials(c, key, terms) => ("textpartials", textArgs(c, key, terms))
    case TextStats(c, key, terms) => ("textstats", textArgs(c, key, terms))
    case TextTopK(c, key, terms, k, g, k1, b) =>
      val w = textArgs(c, key, terms).int(4, k.toLong).double(5, k1).double(6, b)
        .int(7, g.n).int(8, g.totalLen)
      g.dfs.foreach(w.int(9, _))
      ("texttopk", w)
    case Upsert(c, pts) =>
      val w = on(c)
      pts.foreach(p => w.message(2, encodePoint(p)))
      ("upsert", w)
    case Delete(c, ids) =>
      val w = on(c)
      ids.toSeq.sorted.foreach(w.string(2, _))
      ("delete", w)
    case Truncate(c) => ("truncate", on(c).bool(3, b = true))
    case Compact(c, upTo) => ("compact", on(c).int(2, upTo))
    case Optimize(ivfMaxIter) => ("optimize", new PbWriter().int(2, ivfMaxIter.toLong))
    case CreateSnapshot(c, path, storage) =>
      val w = on(c).string(2, path)
      ("snapshot", if (storage) w.string(3, "storage") else w)
    case RecoverSnapshot(c, path, dir, nprobe, candK, ef, hnswK) =>
      ("snapshot_recover", on(c).string(2, path).string(3, dir)
        .int(4, nprobe.toLong).int(5, candK.toLong).int(6, ef.toLong).int(7, hnswK.toLong))
    case VerifySnapshot(c, path) => ("snapshot_verify", on(c).string(2, path))
    case LogStart(c) => ("log_start", on(c))
    case LogSize(c) => ("log_size", on(c))
    case LogEntries(c, from, until) => ("log_entries", on(c).int(2, from).int(3, until))
    case other => throw new UnsupportedOperationException(
      s"the binary wire carries no ${other.getClass.getSimpleName} verb")
  }

  /** Service side: (method name, request message) -> verb. */
  def decodeRequest(method: String, f: PbFields): StoreVerb[_] = {
    def c = f.str(1)
    def filter(at: Int) = decodeFilter(new PbFields(f.slice(at)))
    method match {
      case "names" => Names()
      case "info" => Info(c)
      case "count" => Count(c)
      case "count_filtered" =>
        val (ids, lower) = idsOf(f, 2)
        CountFiltered(c, ids, lower, filter(6))
      case "scroll" =>
        val (ids, lower) = idsOf(f, 8)
        Scroll(c, f.long(2), f.long(3), f.bool(4), f.strs(5),
          if (f.has(13)) Some(f.int(13)) else None, ids, lower, filter(12))
      case "search" =>
        require(f.has(2), "search requires a spec")
        Search(c, decodeSpec(new PbFields(f.slice(2))), f.bool(3), f.strs(4), filter(5))
      case "search_batch" =>
        SearchBatch(c, f.fields(2).map(decodeSpec), f.bool(3), f.strs(4))
      case "facet" => Facet(c, f.str(2), f.int(3, 10), filter(4))
      case "facet_for" => FacetFor(c, f.str(2), f.strs(3).toSet, filter(4))
      case "textrank" =>
        TextRanked(c, f.str(2), f.strs(3), f.int(4, 10), f.double(5, 1.2), f.double(6, 0.75))
      case "textpartials" => TextPartials(c, f.str(2), f.strs(3))
      case "textstats" => TextStats(c, f.str(2), f.strs(3))
      case "texttopk" =>
        TextTopK(c, f.str(2), f.strs(3), f.int(4, 10),
          TextRankStats(f.long(7), f.long(8), f.longs(9).toArray),
          f.double(5, 1.2), f.double(6, 0.75))
      case "upsert" => Upsert(c, f.msgs(2).map(decodePoint))
      case "delete" => Delete(c, f.strs(2).toSet)
      case "truncate" => Truncate(c)
      case "compact" => Compact(c, f.long(2))
      case "optimize" => Optimize(f.int(2))
      case "snapshot" => CreateSnapshot(c, f.str(2), f.str(3) == "storage")
      case "snapshot_recover" =>
        RecoverSnapshot(c, f.str(2), f.str(3), f.int(4), f.int(5), f.int(6), f.int(7))
      case "snapshot_verify" => VerifySnapshot(c, f.str(2))
      case "log_start" => LogStart(c)
      case "log_size" => LogSize(c)
      case "log_entries" => LogEntries(c, f.long(2), f.long(3))
      case other => throw new IllegalArgumentException(s"unknown method '$other'")
    }
  }

  // --------------------------------------------------------- responses --

  private def decodeScored(f: PbFields): Seq[(Point, Double)] =
    f.fields(1).map(m => (decodePoint(m.slice(1)), m.double(2)))

  /** Service side: the response message of `v`'s result. Mutations
    * answer with the empty message.
    */
  def encodeResult[R](v: StoreVerb[R]): R => PbWriter = {
    val w = new PbWriter
    def each[T](xs: Iterable[T])(put: T => Any): PbWriter = { xs.foreach(put); w }
    def hits[T](hs: Iterable[(String, T)])(put: (PbWriter, T) => PbWriter): PbWriter =
      each(hs) { case (k, x) => w.message(1, put(new PbWriter().string(1, k), x)) }
    def scored(page: Seq[(Point, Double)]): PbWriter = {
      val pw = new PbWriter
      page.foreach { case (p, s) => pw.message(1, new PbWriter()
        .message(1, encodePoint(p)).double(2, s)) }
      pw
    }
    v match {
      case Names() => names => each(names)(w.string(1, _))
      case _: VerifySnapshot => findings => each(findings)(w.string(1, _))
      case _: Info => encodeDescriptor(_)
      case _: Count => w.int(1, _)
      case _: CountFiltered => w.int(1, _)
      case _: LogStart => w.int(1, _)
      case _: LogSize => w.int(1, _)
      case _: Scroll => pts => each(pts)(p => w.message(1, encodePoint(p)))
      case _: Search => scored(_)
      case _: SearchBatch => pages => each(pages)(p => w.message(1, scored(p)))
      case _: Facet => hits(_)(_.int(2, _))
      case _: FacetFor => counts => hits(counts.toSeq.sortBy(_._1))(_.int(2, _))
      case _: TextRanked => hits(_)(_.double(2, _))
      case _: TextTopK => hits(_)(_.double(2, _))
      case _: TextPartials => p =>
        w.int(1, p.n).int(2, p.totalLen)
        p.dfs.foreach(w.int(3, _))
        each(p.docs) { case (id, tfs, dl) =>
          val dw = new PbWriter().string(1, id)
          tfs.foreach(dw.int(2, _))
          w.message(4, dw.int(3, dl))
        }
      case _: TextStats => st =>
        w.int(1, st.n).int(2, st.totalLen)
        each(st.dfs)(w.int(3, _))
      case _: LogEntries => entries => each(entries) { e =>
        val m = new PbWriter().string(1, e.op).message(2, encodePoint(e.point))
        w.message(1, if (e.seq >= 0) m.int(3, e.seq) else m)
      }
      case _ => _ => w
    }
  }

  /** Client side: `v`'s result from its response message. */
  def decodeResult[R](v: StoreVerb[R], bytes: Array[Byte]): R = {
    val f = new PbFields(bytes)
    v match {
      case Names() => f.strs(1)
      case _: VerifySnapshot => f.strs(1)
      case _: Info => decodeDescriptor(f)
      case _: Count => f.long(1)
      case _: CountFiltered => f.long(1)
      case _: LogStart => f.long(1)
      case _: LogSize => f.long(1)
      case _: Scroll => f.msgs(1).map(decodePoint)
      case _: Search => decodeScored(f)
      case _: SearchBatch => f.fields(1).map(decodeScored)
      case _: Facet => f.fields(1).map(m => (m.str(1), m.long(2)))
      case _: FacetFor => f.fields(1).map(m => (m.str(1), m.long(2))).toMap
      case _: TextRanked => f.fields(1).map(m => (m.str(1), m.double(2)))
      case _: TextTopK => f.fields(1).map(m => (m.str(1), m.double(2)))
      case _: TextPartials =>
        TextRankPartials(f.long(1), f.long(2), f.longs(3).toArray,
          f.fields(4).map(d => (d.str(1), d.longs(2).toArray, d.long(3))))
      case _: TextStats => TextRankStats(f.long(1), f.long(2), f.longs(3).toArray)
      case _: LogEntries =>
        f.fields(1).map(m => LogEntry(m.str(1), decodePoint(m.slice(2)), m.long(3, -1L)))
      case _: Mutation => ().asInstanceOf[R]
      case other => throw new UnsupportedOperationException(
        s"the binary wire carries no ${other.getClass.getSimpleName} verb")
    }
  }
}

/** The binary-protobuf collection CLIENT — a [[WireCollectionClient]]
  * whose every verb is one framed request to a [[CollectionGrpcServer]].
  * The transport twin of [[RestCollectionStore]]: same store contract
  * above the seam, same server-side filter/search evaluation, same
  * per-writer mutation batches; only the encoding differs (protobuf
  * messages vs JSON resources). Executors deserialize `(host, port)` and
  * open their own connections.
  */
final class GrpcCollectionStore(host: String, port: Int,
                                pageSize: Int = 4096,
                                timeoutMs: Int = 30000,
                                apiKey: Option[String] = None)
    extends WireCollectionClient(pageSize) {
  require(timeoutMs > 0, s"timeoutMs must be positive, got $timeoutMs")

  /** One verb = one framed round trip on a fresh loopback socket
    * (connection setup is microseconds against loopback; per-call
    * sockets keep the client state-free and trivially thread-safe).
    * Status 0 = ok; other statuses rethrow through [[WireError]].
    */
  private[sources] def call[R](verb: StoreVerb[R]): R = {
    val (method, body) = GrpcWire.request(verb)
    // bounded failure: a wedged or half-closed server must surface a
    // store-contract exception, never pin an executor thread (the REST
    // twin bounds failures with retries; here connect + read timeouts)
    val sock = new Socket()
    val payload =
      try {
        sock.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
        sock.setSoTimeout(timeoutMs)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        GrpcWire.writeDelimited(out, method.getBytes(UTF_8))
        GrpcWire.writeDelimited(out, body.toBytes)
        // keyed clients append the shared secret as a TRAILING frame (the
        // framed-wire analog of qdrant's `api-key` gRPC metadata); a keyed
        // server reads it before routing, an unkeyed server never looks
        apiKey.foreach(k => GrpcWire.writeDelimited(out, k.getBytes(UTF_8)))
        out.flush()
        sock.shutdownOutput()
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        val status = in.read()
        require(status >= 0, "connection closed before response")
        val bytes = GrpcWire.readDelimited(in)
        if (status != 0) {
          val msg = new String(bytes, UTF_8)
          throw WireError.byGrpc(status).map(_.raise(msg)).getOrElse(
            new RuntimeException(s"collection grpc service status $status: $msg"))
        }
        bytes
      } catch {
        case e: java.net.SocketTimeoutException =>
          throw new IllegalStateException(
            s"collection grpc '$method' to $host:$port timed out " +
              s"after ${timeoutMs}ms", e)
      } finally sock.close()
    GrpcWire.decodeResult(verb, payload)
  }
}

/** The framed-protobuf collection SERVICE: a loopback [[ServerSocket]]
  * decoding [[GrpcWire]] frames into verbs for [[StoreDispatch]]. One
  * request per connection; handler threads are daemons so the server
  * never pins the JVM.
  */
final class CollectionGrpcServer(storeName: String, poolSize: Int = 8,
                                 apiKey: Option[String] = None) {

  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize,
    (r: Runnable) => {
      val t = new Thread(r, "collection-grpc"); t.setDaemon(true); t
    })
  @volatile private var running = true

  def start(): this.type = {
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          pool.execute(() => handle(sock))
        } catch {
          case _: java.net.SocketException => // closed on stop()
        }
      }
    }, "collection-grpc-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    this
  }

  def stop(): Unit = { running = false; server.close(); pool.shutdown() }

  def port: Int = server.getLocalPort
  def host: String = InetAddress.getLoopbackAddress.getHostAddress

  /** Wire-volume observability (ScaleProbe reads these): requests
    * served, request bytes in, response bytes out. Counting is the only
    * cost — no behavior rides on them.
    */
  val requestsServed = new java.util.concurrent.atomic.AtomicLong(0L)
  val bytesIn = new java.util.concurrent.atomic.AtomicLong(0L)
  val bytesOut = new java.util.concurrent.atomic.AtomicLong(0L)

  private def serve[R](v: StoreVerb[R]): Array[Byte] =
    GrpcWire.encodeResult(v)(StoreDispatch(storeName, v)).toBytes

  private def handle(sock: Socket): Unit = {
    try {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      val (status, payload) =
        try {
          val method = new String(GrpcWire.readDelimited(in), UTF_8)
          val body = GrpcWire.readDelimited(in)
          requestsServed.incrementAndGet(): Unit
          bytesIn.addAndGet(method.length.toLong + body.length.toLong): Unit
          // keyed server: the shared secret rides a trailing frame —
          // absent (EOF after body) or mismatched both refuse BEFORE any
          // routing; constant-time compare so the key isn't timing-probeable
          apiKey.foreach { k =>
            val sent =
              try GrpcWire.readDelimited(in)
              catch {
                case _: IllegalArgumentException =>
                  throw new SecurityException("unauthorized: missing api-key frame")
              }
            if (!java.security.MessageDigest.isEqual(sent, k.getBytes(UTF_8)))
              throw new SecurityException("unauthorized: invalid api-key")
          }
          (0, serve(GrpcWire.decodeRequest(method, new PbFields(body))))
        } catch {
          case e: Throwable =>
            val (_, status, msg) = WireError.of(e)
            (status, msg.getBytes(UTF_8))
        }
      bytesOut.addAndGet(1L + payload.length.toLong): Unit
      out.write(status)
      GrpcWire.writeDelimited(out, payload)
      out.flush()
    } catch {
      case _: java.io.IOException => // client went away; nothing to answer
    } finally sock.close()
  }
}
