package graftbench

import graft.collections.CollectionDescriptor
import graft.sources._

/** A read-only delegating [[CollectionStore]] that records a span and
  * counts around every read call, then forwards it to whatever store is
  * registered under `target` at that moment — a write swaps the
  * registered instance, and the wrapper follows it. Writes never pass
  * through here: the connector and the servers dispatch writes on the
  * concrete store class, so the writing side keeps the bare store.
  *
  * The wrapped calls belong to the `store` layer.
  * Iterators are wrapped so the time spent pulling points (the decode)
  * is measured where it happens, not when the call returns.
  */
final class TracingStore(target: String) extends CollectionStore {
  private val layer = "store"
  private def inner: CollectionStore = CollectionStores.get(target)

  /** The open span of the client whose request a server thread is
    * serving (one client per server, closed loop), so server-side calls
    * join that client's operation.
    */
  @volatile var caller: (Long, Long) = (0L, 0L)

  private def call[T](name: String)(f: => T): T = {
    Trace.count(s"$layer.calls")
    if (caller._1 != 0L && Trace.here._1 == 0L) Trace.under(caller)(SparkTrace.span(layer, name)(f))
    else SparkTrace.span(layer, name)(f)
  }

  /** Points pulled through the iterator count as fetched; the pull time
    * is recorded as one span per call (its total, placed at its start).
    */
  private def pulled(name: String, it: => Iterator[Point]): Iterator[Point] = {
    Trace.count(s"$layer.calls")
    val t0 = System.nanoTime()
    val under = it
    val ctx = org.apache.spark.TaskContext.get()
    var busy = System.nanoTime() - t0
    var done = false
    new Iterator[Point] {
      def hasNext: Boolean = {
        val t = System.nanoTime()
        val h = under.hasNext
        busy += System.nanoTime() - t
        if (!h && !done) {
          done = true
          Trace.count(s"$layer.fetch_ns", busy)
          if (Trace.enabled && ctx != null) {
            val op = Option(ctx.getLocalProperty(SparkTrace.OpKey))
              .map(_.split(":")(0).toLong).getOrElse(0L)
            Trace.add(Span(op, Trace.newId(), 0L, s"stage:${ctx.stageId()}", layer,
              s"$name.pull", t0, t0 + busy))
          }
        }
        h
      }
      def next(): Point = {
        val t = System.nanoTime()
        val p = under.next()
        busy += System.nanoTime() - t
        Trace.count(s"$layer.points")
        p
      }
    }
  }

  override def collectionInfo(collection: String): CollectionDescriptor =
    inner.collectionInfo(collection)
  override def pointCount(collection: String): Long =
    call("pointCount")(inner.pointCount(collection))
  override def collectionNames: Seq[String] = inner.collectionNames

  override def queryPoints(collection: String, from: Long, until: Long,
                           withPayload: Boolean, vectorFields: Seq[String],
                           limit: Option[Int], idFilter: Option[Set[String]],
                           idLower: Option[String]): Iterator[Point] =
    pulled("queryPoints", inner.queryPoints(collection, from, until, withPayload,
      vectorFields, limit, idFilter, idLower))

  override def countMatching(collection: String, idFilter: Option[Set[String]],
                             idLower: Option[String]): Long =
    call("countMatching")(inner.countMatching(collection, idFilter, idLower))

  override def queryPointsFiltered(collection: String, from: Long, until: Long,
                                   withPayload: Boolean, vectorFields: Seq[String],
                                   limit: Option[Int], idFilter: Option[Set[String]],
                                   idLower: Option[String],
                                   pfilter: PayloadFilter): Iterator[Point] =
    pulled("queryPointsFiltered", inner.queryPointsFiltered(collection, from, until,
      withPayload, vectorFields, limit, idFilter, idLower, pfilter))

  override def countMatchingFiltered(collection: String, idFilter: Option[Set[String]],
                                     idLower: Option[String],
                                     pfilter: PayloadFilter): Long =
    call("countMatchingFiltered")(
      inner.countMatchingFiltered(collection, idFilter, idLower, pfilter))

  override def searchPoints(collection: String, spec: SearchSpec, withPayload: Boolean,
                            vectorFields: Seq[String]): Seq[(Point, Double)] =
    call("search")(inner.searchPoints(collection, spec, withPayload, vectorFields))

  override def searchPointsFiltered(collection: String, spec: SearchSpec,
                                    withPayload: Boolean, vectorFields: Seq[String],
                                    pfilter: PayloadFilter): Seq[(Point, Double)] =
    call("search")(inner.searchPointsFiltered(collection, spec, withPayload,
      vectorFields, pfilter))

  override def facetCounts(collection: String, key: String, limit: Int,
                           pfilter: PayloadFilter): Seq[(String, Long)] =
    call("facetCounts")(inner.facetCounts(collection, key, limit, pfilter))

  override def facetCountsFor(collection: String, key: String, values: Set[String],
                              pfilter: PayloadFilter): Map[String, Long] =
    call("facetCountsFor")(inner.facetCountsFor(collection, key, values, pfilter))

  override def searchTextRanked(collection: String, key: String, terms: Seq[String],
                                k: Int, k1: Double, b: Double): Seq[(String, Double)] =
    call("searchTextRanked")(inner.searchTextRanked(collection, key, terms, k, k1, b))

  override def textRankPartials(collection: String, key: String,
                                terms: Seq[String]): TextRankPartials =
    call("textRankPartials")(inner.textRankPartials(collection, key, terms))

  override def textRankStats(collection: String, key: String,
                             terms: Seq[String]): TextRankStats =
    call("textRankStats")(inner.textRankStats(collection, key, terms))

  override def textRankTopK(collection: String, key: String, terms: Seq[String], k: Int,
                            global: TextRankStats, k1: Double,
                            b: Double): Seq[(String, Double)] =
    call("textRankTopK")(inner.textRankTopK(collection, key, terms, k, global, k1, b))

  override def logSize(collection: String): Long = inner.logSize(collection)
  override def logStart(collection: String): Long = inner.logStart(collection)
  override def logEntries(collection: String, from: Long, until: Long): Iterator[LogEntry] =
    inner.logEntries(collection, from, until)
}
