package graft.sources

import graft.collections.CollectionDescriptor

/** The wire protocol's VERB TABLE: one case per [[CollectionStore]] verb a
  * transport carries, typed by its result. Both transports speak it —
  * [[RestCollectionStore]] as Qdrant-shaped JSON resources,
  * [[GrpcCollectionStore]] as framed protobuf — so a transport is only a
  * codec between this table and its bytes: [[WireCollectionClient]] maps
  * the store methods to verbs on the client side, [[StoreDispatch]] runs
  * them against the fronted store on the service side.
  */
private[sources] sealed abstract class StoreVerb[R]

/** A verb that changes the fronted store. Never auto-retried: an upsert
  * replay is id-idempotent for the sealed state but appends duplicate CDC
  * log entries, so the caller owns replay semantics.
  */
private[sources] sealed trait Mutation

private[sources] object StoreVerb {
  type Scored = Seq[(Point, Double)]

  final case class Names() extends StoreVerb[Seq[String]]
  final case class Info(c: String) extends StoreVerb[CollectionDescriptor]
  final case class Count(c: String) extends StoreVerb[Long]
  final case class CountFiltered(c: String, ids: Option[Set[String]],
                                 lower: Option[String], pf: PayloadFilter)
      extends StoreVerb[Long]
  final case class Scroll(c: String, from: Long, until: Long,
                          withPayload: Boolean, fields: Seq[String],
                          limit: Option[Int], ids: Option[Set[String]],
                          lower: Option[String], pf: PayloadFilter)
      extends StoreVerb[Seq[Point]]
  final case class Search(c: String, spec: SearchSpec, withPayload: Boolean,
                          fields: Seq[String], pf: PayloadFilter)
      extends StoreVerb[Scored]
  final case class SearchBatch(c: String, specs: Seq[SearchSpec],
                               withPayload: Boolean, fields: Seq[String])
      extends StoreVerb[Seq[Scored]]
  final case class Facet(c: String, key: String, limit: Int, pf: PayloadFilter)
      extends StoreVerb[Seq[(String, Long)]]
  final case class FacetFor(c: String, key: String, values: Set[String],
                            pf: PayloadFilter)
      extends StoreVerb[Map[String, Long]]
  final case class TextRanked(c: String, key: String, terms: Seq[String],
                              k: Int, k1: Double, b: Double)
      extends StoreVerb[Seq[(String, Double)]]
  final case class TextPartials(c: String, key: String, terms: Seq[String])
      extends StoreVerb[TextRankPartials]
  final case class TextStats(c: String, key: String, terms: Seq[String])
      extends StoreVerb[TextRankStats]
  final case class TextTopK(c: String, key: String, terms: Seq[String], k: Int,
                            global: TextRankStats, k1: Double, b: Double)
      extends StoreVerb[Seq[(String, Double)]]
  final case class Upsert(c: String, pts: Seq[Point])
      extends StoreVerb[Unit] with Mutation
  final case class Delete(c: String, ids: Set[String])
      extends StoreVerb[Unit] with Mutation
  final case class Truncate(c: String) extends StoreVerb[Unit] with Mutation
  final case class Compact(c: String, upTo: Long)
      extends StoreVerb[Unit] with Mutation
  final case class Optimize(ivfMaxIter: Int) extends StoreVerb[Unit] with Mutation
  final case class CreateSnapshot(c: String, path: String, storage: Boolean)
      extends StoreVerb[Unit] with Mutation
  final case class RecoverSnapshot(c: String, path: String, dir: String,
                                   ivfNprobe: Int, ivfCandidateK: Int,
                                   hnswEf: Int, hnswCandidateK: Int)
      extends StoreVerb[Unit] with Mutation
  final case class VerifySnapshot(c: String, path: String)
      extends StoreVerb[Seq[String]]
  final case class LogStart(c: String) extends StoreVerb[Long]
  final case class LogSize(c: String) extends StoreVerb[Long]
  final case class LogEntries(c: String, from: Long, until: Long)
      extends StoreVerb[Seq[LogEntry]]

  // REST-only verbs: DDL, aliases, vector and payload patches
  final case class CreateCollection(desc: CollectionDescriptor)
      extends StoreVerb[Unit] with Mutation
  final case class DropCollection(c: String) extends StoreVerb[Unit] with Mutation
  final case class UpdateAliases(actions: Seq[AliasedCollectionStore.AliasAction])
      extends StoreVerb[Unit] with Mutation
  /** (alias, collection) pairs in alias order; `c` narrows to one target. */
  final case class ListAliases(c: Option[String])
      extends StoreVerb[Seq[(String, String)]]
  final case class SetPayload(c: String, ids: Set[String], patch: String)
      extends StoreVerb[Unit] with Mutation
  final case class DeletePayload(c: String, ids: Set[String], keys: Set[String])
      extends StoreVerb[Unit] with Mutation
  final case class ClearPayload(c: String, ids: Set[String])
      extends StoreVerb[Unit] with Mutation
  final case class UpdateVectors(c: String, pts: Seq[Point])
      extends StoreVerb[Unit] with Mutation
  final case class DeleteVectors(c: String, ids: Set[String], fields: Set[String])
      extends StoreVerb[Unit] with Mutation
}

/** The ONE server-side dispatch both wire services share: run a decoded
  * verb against the store registered under `storeName`, resolved BY NAME
  * per request so catalog DDL and write commits that swap the registered
  * store are visible to the next request. It owns the store-call rules:
  *   - the unknown-collection pre-check (IllegalArgumentException, which
  *     both transports carry as "not found");
  *   - writes as ONE atomic RMW on the registry, through an alias to its
  *     target — the service owns commit atomicity, the client ships
  *     batches;
  *   - optimize, snapshot, recover and verify, acting service-side (the
  *     artifact never crosses the wire).
  * Un-requested payload and vector fields never reach the wire: the inner
  * store's reads already strip them.
  */
private[sources] object StoreDispatch {
  import StoreVerb._

  def apply[R](storeName: String, verb: StoreVerb[R]): R = {
    val store = CollectionStores.get(storeName)
    def known(c: String): Unit = store.collectionInfo(c): Unit
    def write(c: String, refusal: String)(
        arms: String => PartialFunction[CollectionStore, CollectionStore]): Unit = {
      known(c)
      CollectionStores.update(storeName) { s0 =>
        val coll = AliasedCollectionStore.resolve(s0, c)
        AliasedCollectionStore.mapInner(s0)(arms(coll).applyOrElse(_,
          (other: CollectionStore) => throw new UnsupportedOperationException(
            s"store ${other.getClass.getName} $refusal")))
      }
    }
    def ddl(c: String)(f: InMemoryCollectionStore => CollectionStore): Unit =
      CollectionStores.update(storeName) { s0 =>
        if (AliasedCollectionStore.isAlias(s0, c))
          throw new IllegalStateException(
            s"'$c' is an alias; DDL addresses concrete collections")
        AliasedCollectionStore.mapInner(s0) {
          case mem: InMemoryCollectionStore => f(mem)
          case other => throw new UnsupportedOperationException(
            s"store ${other.getClass.getName} does not accept DDL")
        }
      }
    def patch(c: String)(f: (InMemoryCollectionStore, String) => CollectionStore): Unit =
      write(c, "does not accept payload or vector patches") { coll => {
        case mem: InMemoryCollectionStore => f(mem, coll)
      }}

    verb match {
      case Names() => store.collectionNames
      case Info(c) => store.collectionInfo(c)
      case Count(c) => known(c); store.pointCount(c)
      case CountFiltered(c, ids, lower, pf) =>
        known(c); store.countMatchingFiltered(c, ids, lower, pf)
      case Scroll(c, from, until, wp, vf, limit, ids, lower, pf) =>
        store.queryPointsFiltered(c, from, until, wp, vf, limit, ids, lower, pf).toSeq
      case Search(c, spec, wp, vf, pf) => store.searchPointsFiltered(c, spec, wp, vf, pf)
      case SearchBatch(c, specs, wp, vf) => specs.map(store.searchPoints(c, _, wp, vf))
      case Facet(c, key, limit, pf) => known(c); store.facetCounts(c, key, limit, pf)
      case FacetFor(c, key, values, pf) =>
        known(c); store.facetCountsFor(c, key, values, pf)
      case TextRanked(c, key, terms, k, k1, b) =>
        known(c); store.searchTextRanked(c, key, terms, k, k1, b)
      case TextPartials(c, key, terms) => known(c); store.textRankPartials(c, key, terms)
      case TextStats(c, key, terms) => known(c); store.textRankStats(c, key, terms)
      case TextTopK(c, key, terms, k, global, k1, b) =>
        known(c); store.textRankTopK(c, key, terms, k, global, k1, b)

      case Upsert(c, pts) =>
        val batch = pts.sortBy(_.id).toIndexedSeq
        write(c, "does not accept upserts") { coll => {
          case mem: InMemoryCollectionStore => mem.appended(coll, batch)
          // the remote LAKEHOUSE write: the service owns the COW batch
          // (file-granular rewrite + one log segment)
          case pq: ParquetCollectionStore => pq.appended(coll, batch)
          // a SHARDED (or chained-client) backend routes the batch on
          case rc: RemoteCollectionClient => rc.upsertPoints(coll, batch); rc
        }}
      case Delete(c, ids) =>
        write(c, "does not accept deletes") { coll => {
          case mem: InMemoryCollectionStore => mem.removed(coll, ids)
          case pq: ParquetCollectionStore => pq.removed(coll, ids)
          case rc: RemoteCollectionClient => rc.deletePoints(coll, ids); rc
        }}
      // the server enumerates and tombstones its own ids — they never
      // page through the client
      case Truncate(c) =>
        write(c, "does not accept deletes") { coll => {
          case mem: InMemoryCollectionStore => mem.truncated(coll)
          case pq: ParquetCollectionStore => pq.truncated(coll)
          case rc: RemoteCollectionClient => rc.truncate(coll); rc
        }}
      // COW swap on the registry, retained log positions untouched
      case Compact(c, upTo) =>
        write(c, "cannot compact its log") { coll => {
          case mem: InMemoryCollectionStore => mem.compacted(coll, upTo)
          case pq: ParquetCollectionStore => pq.compacted(coll, upTo)
          case rc: RemoteCollectionClient => rc.compact(coll, upTo); rc
        }}

      // lifecycle: rebuild index sidecars at the log head; the registry
      // swap publishes the optimized store to the next request
      case Optimize(ivfMaxIter) =>
        val sp = StoreOptimize.serviceSpark
        CollectionStores.update(storeName)(StoreOptimize(_, sp, ivfMaxIter))
      // storage = the whole store tree (index included, the per-node
      // form); otherwise the portable points + manifest export
      case CreateSnapshot(c, path, storage) =>
        known(c)
        require(path.nonEmpty, "snapshot requires a destination path")
        if (storage) graft.collections.Snapshot.createStorage(storeName, c, path)
        else graft.collections.Snapshot.create(
          StoreOptimize.serviceSpark, storeName, c, path)
      // restore a STORAGE archive under a fresh service-side dir and swap
      // the backing store: the recovered store is serve-ready
      case RecoverSnapshot(c, path, dir, nprobe, candK, ef, hnswK) =>
        require(path.nonEmpty && dir.nonEmpty,
          "recover requires an archive path and a restore dir")
        graft.collections.Snapshot.restoreStorage(StoreOptimize.serviceSpark,
          path, storeName, c, dir, nprobe, candK, ef, hnswK): Unit
      // the DR drill: only the findings cross (EMPTY = sound)
      case VerifySnapshot(c, path) =>
        known(c)
        require(path.nonEmpty, "verify requires an archive path")
        graft.collections.Snapshot.verifyStorage(path)
      case LogStart(c) => store.logStart(c)
      case LogSize(c) => store.logSize(c)
      case LogEntries(c, from, until) => store.logEntries(c, from, until).toSeq

      // the SERVICE owns the existence check inside the atomic registry
      // update, so two concurrent remote CREATEs of one name cannot both win
      case CreateCollection(desc) =>
        ddl(desc.name) { mem =>
          if (mem.collectionNames.contains(desc.name))
            throw new IllegalStateException(s"collection '${desc.name}' already exists")
          mem.withCollection(desc.name, desc)
        }
      case DropCollection(c) => known(c); ddl(c)(_.withoutCollection(c))
      // one atomic batch of alias actions: remote readers see wholly-old
      // or wholly-new
      case UpdateAliases(actions) => AliasedCollectionStore.updateAliases(storeName, actions)
      case ListAliases(c) =>
        c.foreach(known)
        AliasedCollectionStore.listAliases(storeName).toSeq
          .filter(a => c.forall(_ == a._2)).sortBy(_._1)
      case SetPayload(c, ids, p) => patch(c)(_.payloadPatched(_, ids, p))
      case DeletePayload(c, ids, keys) => patch(c)(_.payloadKeysDeleted(_, ids, keys))
      case ClearPayload(c, ids) => patch(c)(_.payloadCleared(_, ids))
      case UpdateVectors(c, pts) => patch(c)(_.vectorsUpdated(_, pts))
      case DeleteVectors(c, ids, fields) => patch(c)(_.vectorsDeleted(_, ids, fields))
    }
  }
}

/** The ONE wire client both transports share: every [[CollectionStore]]
  * method becomes a [[StoreVerb]] handed to the transport's `call` (its
  * framing and codec), and the logic above the codec lives here once —
  * the descriptor cache, the scroll paging loops and the limit handling.
  * Serializable by construction: executors deserialize the dial target
  * and open their own connections.
  */
abstract class WireCollectionClient(pageSize: Int)
    extends CollectionStore with RemoteCollectionClient {
  import StoreVerb._
  require(pageSize > 0, s"pageSize must be positive, got $pageSize")

  /** One verb, one round trip; the result or the mapped store exception. */
  private[sources] def call[R](verb: StoreVerb[R]): R

  // descriptor cache: one info call per (client instance, collection),
  // not one per page
  @transient private lazy val descCache =
    new java.util.concurrent.ConcurrentHashMap[String, CollectionDescriptor]()

  private[sources] def descriptor(collection: String): CollectionDescriptor =
    descCache.computeIfAbsent(collection, c => collectionInfo(c))

  private[sources] def forget(collection: String): Unit =
    descCache.remove(collection): Unit

  override def collectionInfo(collection: String): CollectionDescriptor =
    call(Info(collection))

  override def collectionNames: Seq[String] = call(Names())

  override def pointCount(collection: String): Long = call(Count(collection))

  /** Filtered count in ONE round trip — the service counts; no point
    * pages over the wire.
    */
  override def countMatching(collection: String,
                             idFilter: Option[Set[String]] = None,
                             idLower: Option[String] = None): Long =
    countMatchingFiltered(collection, idFilter, idLower, PayloadFilter.Empty)

  override def countMatchingFiltered(collection: String,
                                     idFilter: Option[Set[String]] = None,
                                     idLower: Option[String] = None,
                                     pfilter: PayloadFilter = PayloadFilter.Empty): Long =
    call(CountFiltered(collection, idFilter, idLower, pfilter))

  override def queryPoints(collection: String, from: Long, until: Long,
                           withPayload: Boolean, vectorFields: Seq[String],
                           limit: Option[Int],
                           idFilter: Option[Set[String]] = None,
                           idLower: Option[String] = None): Iterator[Point] =
    queryPointsFiltered(collection, from, until, withPayload, vectorFields,
      limit, idFilter, idLower, PayloadFilter.Empty)

  /** Paged scroll: filters and the remaining limit ship IN every page
    * request and the service applies them, so only matching points cross
    * and a partition never buffers more than one page.
    *
    * PAGED ID-FILTER: a full-window fetch WITH an id set pages over the
    * ID SET — one request per `pageSize` ids in UTF-8 id order — never the
    * positional loop that would re-serialize the whole set with every
    * window page. A reshard migrating a 65k-id batch through a wire member
    * ships ceil(65k/pageSize) bounded requests; a routed lookup ships ONE.
    * Other fetches page the enumeration window [from, until), clamped to
    * the collection's size.
    */
  override def queryPointsFiltered(collection: String, from: Long, until: Long,
                                   withPayload: Boolean, vectorFields: Seq[String],
                                   limit: Option[Int],
                                   idFilter: Option[Set[String]] = None,
                                   idLower: Option[String] = None,
                                   pfilter: PayloadFilter = PayloadFilter.Empty): Iterator[Point] = {
    descriptor(collection): Unit
    val pc = pointCount(collection)
    val hi = math.min(until, pc)
    var remaining = limit
    def page(lo: Long, up: Long, ids: Option[Set[String]]): Iterator[Point] =
      if (remaining.exists(_ <= 0)) Iterator.empty
      else {
        val pts = call(Scroll(collection, lo, up, withPayload, vectorFields,
          remaining, ids, idLower, pfilter))
        remaining = remaining.map(_ - pts.length)
        pts.iterator
      }
    idFilter match {
      case Some(ids) if from == 0L && until >= pc =>
        ids.toSeq.sortWith(SparkStringOrder.lt).grouped(pageSize)
          .flatMap(chunk => page(0L, hi, Some(chunk.toSet)))
      case _ =>
        Iterator.range(from, hi, pageSize.toLong)
          .flatMap(lo => page(lo, math.min(lo + pageSize, hi), idFilter))
    }
  }

  override def searchPoints(collection: String, spec: SearchSpec,
                            withPayload: Boolean,
                            vectorFields: Seq[String]): Seq[(Point, Double)] =
    searchPointsFiltered(collection, spec, withPayload, vectorFields,
      PayloadFilter.Empty)

  /** Pushed top-k: the service restricts candidates by the filter BEFORE
    * ranking, scores, and ships k points back — the reference's
    * `QueryPoints` architecture end to end, network included.
    */
  override def searchPointsFiltered(collection: String, spec: SearchSpec,
                                    withPayload: Boolean,
                                    vectorFields: Seq[String],
                                    pfilter: PayloadFilter): Seq[(Point, Double)] = {
    descriptor(collection): Unit
    call(Search(collection, spec, withPayload, vectorFields, pfilter))
  }

  /** BATCHED scored queries in ONE round trip (the backend's query/batch):
    * results come back per spec, in spec order, each with the ranking
    * contract of [[searchPoints]].
    */
  def searchPointsBatch(collection: String, specs: Seq[SearchSpec],
                        withPayload: Boolean,
                        vectorFields: Seq[String]): Seq[Seq[(Point, Double)]] = {
    descriptor(collection): Unit
    call(SearchBatch(collection, specs, withPayload, vectorFields))
  }

  /** FACET: the service owns the payload pass; only the hit list crosses. */
  override def facetCounts(collection: String, key: String, limit: Int,
                           pfilter: PayloadFilter = PayloadFilter.Empty): Seq[(String, Long)] = {
    require(limit > 0, s"facet limit must be positive, got $limit")
    call(Facet(collection, key, limit, pfilter))
  }

  /** Targeted exact facet counts (the distributed threshold merge's
    * second pass): only the asked values' rows cross.
    */
  override def facetCountsFor(collection: String, key: String,
                              values: Set[String],
                              pfilter: PayloadFilter = PayloadFilter.Empty): Map[String, Long] =
    if (values.isEmpty) Map.empty
    else call(FacetFor(collection, key, values, pfilter))

  /** Ranked full-text in ONE round trip: the service reads its own
    * postings and ships the k hits.
    */
  override def searchTextRanked(collection: String, key: String,
                                terms: Seq[String], k: Int,
                                k1: Double = 1.2,
                                b: Double = 0.75): Seq[(String, Double)] = {
    TextRank.validate(terms, k)
    call(TextRanked(collection, key, terms, k, k1, b))
  }

  /** Mergeable BM25 partials — the call a sharded wrapper makes per member. */
  override def textRankPartials(collection: String, key: String,
                                terms: Seq[String]): TextRankPartials =
    call(TextPartials(collection, key, terms))

  /** Phase 1 of the two-phase distributed rank: corpus stats only. */
  override def textRankStats(collection: String, key: String,
                             terms: Seq[String]): TextRankStats =
    call(TextStats(collection, key, terms))

  /** Phase 2: the service ranks ITS candidates with the caller's GLOBAL
    * stats; at most k hits cross back.
    */
  override def textRankTopK(collection: String, key: String,
                            terms: Seq[String], k: Int,
                            global: TextRankStats, k1: Double = 1.2,
                            b: Double = 0.75): Seq[(String, Double)] = {
    TextRank.validate(terms, k)
    call(TextTopK(collection, key, terms, k, global, k1, b))
  }

  /** Upsert a batch: an incoming id replaces the stored point, and the
    * batch lands atomically in the collection AND its change log.
    */
  def upsertPoints(collection: String, pts: Seq[Point]): Unit =
    call(Upsert(collection, pts))

  /** Delete by ids: absent ids are no-ops, present ids tombstone. */
  def deletePoints(collection: String, ids: Set[String]): Unit =
    call(Delete(collection, ids))

  /** Empty the collection (`DELETE FROM t` with no WHERE). */
  def truncate(collection: String): Unit = call(Truncate(collection))

  def compact(collection: String, upTo: Long): Unit =
    call(Compact(collection, upTo))

  /** Trigger the SERVICE's optimizer: one verb out, one ack back, zero
    * data crosses; rebuild idempotence is the service's concern.
    */
  override def optimize(ivfMaxIter: Int = 0): Unit = call(Optimize(ivfMaxIter))

  /** Portable snapshot (parquet dataset + manifest) at a SERVICE-side path. */
  override def snapshot(collection: String, path: String): Unit =
    call(CreateSnapshot(collection, path, storage = false))

  /** STORAGE snapshot (the whole store tree, every index sidecar) at a
    * SERVICE-side path — the backend's per-node form: the archive never
    * crosses the wire.
    */
  def snapshotStorage(collection: String, path: String): Unit =
    call(CreateSnapshot(collection, path, storage = true))

  /** Recover the service's collection from a STORAGE snapshot: the
    * service restores the archive under `dir` and swaps its backing store,
    * serve-ready with the dials the original store used.
    */
  def recoverStorageSnapshot(collection: String, path: String, dir: String,
                             ivfNprobe: Int = 0, ivfCandidateK: Int = 0,
                             hnswEf: Int = 0, hnswCandidateK: Int = 0): Unit =
    call(RecoverSnapshot(collection, path, dir, ivfNprobe, ivfCandidateK,
      hnswEf, hnswCandidateK))

  /** The DR drill: the service runs
    * [[graft.collections.Snapshot.verifyStorage]] on a SERVICE-side
    * archive and ships back only the findings (EMPTY = sound).
    */
  def verifyStorageSnapshot(collection: String, path: String): Seq[String] =
    call(VerifySnapshot(collection, path))

  override def logStart(collection: String): Long = call(LogStart(collection))

  override def logSize(collection: String): Long = call(LogSize(collection))

  /** Paged like the scroll: an epoch's entry range never buffers more
    * than a page client-side. The first page is fetched by the call
    * itself, so a caller's failover around the call (the replicated
    * journal read) covers a dead service; later pages stream.
    */
  override def logEntries(collection: String, from: Long,
                          until: Long): Iterator[LogEntry] = {
    descriptor(collection): Unit
    def page(lo: Long) = call(LogEntries(collection, lo, math.min(lo + pageSize, until)))
    if (from >= until) Iterator.empty
    else page(from).iterator ++
      Iterator.range(from + pageSize, until, pageSize.toLong).flatMap(page)
  }
}

/** The ONE error-class mapping both wire transports share, in each
  * direction: the service turns a store-contract exception into a status
  * (an HTTP code, a framed status byte), and the client rethrows the same
  * class, so callers above the seam observe identical failures whichever
  * backend is registered. Any other failure crosses as a generic error.
  */
private[sources] final case class WireError(http: Int, grpc: Int, fallback: String,
                                            raise: String => RuntimeException)

private[sources] object WireError {
  private val kinds = Seq(
    classOf[SecurityException] ->
      WireError(401, 5, "unauthorized", new SecurityException(_)),
    classOf[IllegalArgumentException] ->
      WireError(404, 1, "not found", new IllegalArgumentException(_)),
    classOf[IllegalStateException] ->
      WireError(409, 2, "conflict", new IllegalStateException(_)),
    classOf[UnsupportedOperationException] ->
      WireError(501, 3, "unsupported", new UnsupportedOperationException(_)))

  /** Service side: (HTTP code, framed status, message) for `e`. */
  def of(e: Throwable): (Int, Int, String) = {
    val msg = Option(e.getMessage)
    kinds.collectFirst { case (cls, k) if cls.isInstance(e) =>
      (k.http, k.grpc, msg.getOrElse(k.fallback))
    }.getOrElse((500, 4, s"${e.getClass.getSimpleName}: ${msg.getOrElse("")}"))
  }

  /** Client side: the store exception a status maps back to, if any. */
  def byHttp(code: Int): Option[WireError] = kinds.map(_._2).find(_.http == code)
  def byGrpc(status: Int): Option[WireError] = kinds.map(_._2).find(_.grpc == status)
}
