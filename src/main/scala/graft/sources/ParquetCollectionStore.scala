package graft.sources

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.collections.{CollectionDescriptor, DenseField}

/** A [[CollectionStore]] served directly from parquet files on shared
  * storage — the "cold lakehouse collection" backend, and the second
  * store implementation behind the connector seam: every DSv2 behavior
  * (partitioned scans, projection/limit/id-filter/top-k pushdown) runs
  * unchanged when the in-memory stand-in is swapped out, because the
  * plumbing only ever talks to the [[CollectionStore]] contract. The
  * reference's client is a gRPC channel
  * (/root/reference/src/table.rs:84); this one is a directory path plus
  * parquet footers — both are tiny serializable handles, which is the
  * point: executors open their own readers against shared storage, no
  * point data ever sits on or ships through the driver.
  *
  * Layout contract: `dir` holds `*.parquet` files of rows
  * `(id: string, payload: string?, <denseColumn>: array<float>)` sealed
  * in GLOBAL id order across the lexicographic file sequence (write via
  * [[ParquetCollectionStore.write]]). Dense fields only — the cold
  * layout for the other field kinds would add columns per
  * [[CollectionDescriptor.schema]]'s rules.
  *
  * Serving properties (each asserted in CollectionDataSourceSpec via the
  * `filesOpened` / `rowGroupsRead` counters):
  *  - `queryPoints(from, until)` opens only files overlapping the row
  *    window (footer row counts position it) and row-group-skips inside
  *    them — an N-partition connector scan touches each byte once;
  *  - the narrowed fetch becomes a parquet REQUESTED SCHEMA, so
  *    un-asked payload/vector bytes are never decoded (the connector's
  *    column pruning reaches the file bytes);
  *  - a keyset bound (`idLower`) skips whole files and row groups whose
  *    id-column statistics max sorts at or below the bound — the
  *    footer-level analog of the in-memory store's sorted seek;
  *  - WITH the [[ParquetLog]] change-log sidecar (`dir/_log`, laid down
  *    by [[ParquetCollectionStore.write]]`(withLog = true)` or any
  *    mutation), streaming reads, CDC replay, compaction, and the
  *    connector's write path all serve over this backend; withOUT it,
  *    streaming reads fail loudly per the base contract (pure cold
  *    storage replays state, not history) and mutations are refused.
  *
  * Mutations are copy-on-write at FILE granularity (the Iceberg/Delta
  * COW discipline): an upsert/delete batch rewrites only the primary
  * files whose id range it touches (the ranged layout makes that a
  * footer-stats decision), appends one log segment, and returns a fresh
  * store instance — primary files always hold the CURRENT state, so the
  * batch read path never pays replay. The IVF/payload/sparse sidecars
  * index the state they were built from and record the log position of
  * the build (their FRESHNESS POINT); serving overlays the log tail
  * past it — mutated ids masked out of index results (page windows
  * widened by the mask so the post-mask page is still exact), upserted
  * points scored from the in-memory tail and merged — so sidecar-served
  * search stays EXACT between index rebuilds, qdrant's
  * unindexed-segment model. Index-served COUNTS require an empty tail
  * (a masked row's old payload is unknowable from the log) and fall
  * back to the COW-current primaries otherwise; a tail compacted away
  * (`compactLog` past the freshness point) disables the sidecar until
  * the offline rebuild reruns — never silently stale, by construction.
  *
  * A read buffers the kept rows of one file at a time (row-group skips
  * bound what decodes), never the collection.
  */
final class ParquetCollectionStore(
    val dir: String, collection: String,
    descriptor: CollectionDescriptor,
    ivfNprobe: Int = 0,
    ivfCandidateK: Int = 0,
    hnswEf: Int = 0,
    hnswCandidateK: Int = 0) extends CollectionStore {

  /** Decode/IO counters for specs and probes (JVM-local, like the
    * in-memory store's `pointsTouched`).
    */
  @transient lazy val filesOpened = new AtomicLong(0L)
  @transient lazy val rowGroupsRead = new AtomicLong(0L)
  /** Int8-codes files read by the quantized candidate stage. */
  @transient lazy val codesFilesOpened = new AtomicLong(0L)

  /** Dense field name -> stored column name (unnamed collections store
    * their single dense field as `vector`, schema.rs:74-77).
    */
  private def columnOf(field: String): String =
    if (descriptor.named) field else "vector"

  private case class BlockMeta(rows: Long, minId: Option[String],
                               maxId: Option[String])
  private case class FileMeta(path: String, start: Long, rows: Long,
                              minId: Option[String], maxId: Option[String],
                              blocks: Seq[BlockMeta], columns: Set[String])

  /** Footer metadata of the file sequence (row counts + id-column max
    * stats) — recomputed lazily per JVM; footers are a few KB per file.
    */
  @transient private lazy val fileMetas: Seq[FileMeta] = {
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    var start = 0L
    files.toSeq.map { f =>
      val in = ParquetLog.openReader(f.getAbsolutePath)
      try {
        val blocks = in.getRowGroups.asScala.toSeq.map { b =>
          val idStats = b.getColumns.asScala
            .find(_.getPath.toDotString == "id")
            .flatMap(c => Option(c.getStatistics))
            .filter(s => s.hasNonNullValue)
          BlockMeta(b.getRowCount,
            idStats.map(_.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8),
            idStats.map(_.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
        }
        val rows = blocks.map(_.rows).sum
        val maxId = if (blocks.forall(_.maxId.isDefined) && blocks.nonEmpty)
          Some(blocks.flatMap(_.maxId).maxBy(identity)(Ordering.fromLessThan(
            (a: String, b: String) => SparkStringOrder.gt(b, a))))
        else None
        val minId = if (blocks.forall(_.minId.isDefined) && blocks.nonEmpty)
          Some(blocks.flatMap(_.minId).minBy(identity)(Ordering.fromLessThan(
            (a: String, b: String) => SparkStringOrder.gt(b, a))))
        else None
        val columns = in.getFooter.getFileMetaData.getSchema.getFields
          .asScala.map(_.getName).toSet
        val m = FileMeta(f.getAbsolutePath, start, rows, minId, maxId, blocks,
          columns)
        start += rows
        m
      } finally in.close()
    }
  }

  override def collectionInfo(c: String): CollectionDescriptor = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    descriptor
  }

  override def collectionNames: Seq[String] = Seq(collection)

  override def pointCount(c: String): Long = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    fileMetas.map(_.rows).sum
  }

  /** Top-level columns every file of the store holds (from the footers). */
  private def storedColumns: Set[String] =
    fileMetas.map(_.columns).reduceOption(_ intersect _).getOrElse(Set.empty)

  /** Everything at or below the keyset bound is filtered anyway — skip
    * the IO when footer stats prove it.
    */
  private def skippableByBound(maxId: Option[String],
                               idLower: Option[String]): Boolean =
    (for (m <- maxId; b <- idLower) yield !SparkStringOrder.gt(m, b))
      .getOrElse(false)

  /** An id-set fetch skips any file/row group whose id statistics prove
    * NO candidate falls in [min, max] — the footer-level form of a point
    * lookup: fetching k ids from a ranged layout reads only the row
    * groups that can hold them, however large the collection.
    */
  private def skippableByIds(minId: Option[String], maxId: Option[String],
                             idFilter: Option[Set[String]]): Boolean =
    (for (lo <- minId; hi <- maxId; ids <- idFilter) yield
      !ids.exists(id =>
        !SparkStringOrder.gt(lo, id) && !SparkStringOrder.gt(id, hi)))
      .getOrElse(false)

  /** Physical columns of one requested vector field: dense -> one
    * float-list column; sparse -> the `{name}_indices`/`{name}_values`
    * pair (the collection layout's two-column convention); multi -> one
    * nested float-list-list column. All three vector kinds serve from
    * the cold layout.
    */
  private sealed trait FieldCols
  private case class DenseCol(field: String, col: String) extends FieldCols
  private case class SparseCols(field: String, idxCol: String,
                                valCol: String) extends FieldCols
  private case class MultiCol(field: String, col: String) extends FieldCols

  private def fieldCols(f: String): FieldCols =
    descriptor.fields.find(_.name == f) match {
      case Some(graft.collections.SparseField(n)) =>
        SparseCols(f, s"${n}_indices", s"${n}_values")
      case Some(graft.collections.MultiField(n, _)) => MultiCol(f, n)
      case _ => DenseCol(f, columnOf(f))
    }

  private def physicalCols(fc: FieldCols): Seq[String] = fc match {
    case DenseCol(_, cn) => Seq(cn)
    case SparseCols(_, ic, vc) => Seq(ic, vc)
    case MultiCol(_, cn) => Seq(cn)
  }

  override def queryPoints(c: String, from: Long, until: Long,
                           withPayload: Boolean, vectorFields: Seq[String],
                           limit: Option[Int],
                           idFilter: Option[Set[String]] = None,
                           idLower: Option[String] = None): Iterator[Point] = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    val vecCols = vectorFields.distinct.map(fieldCols)
    val base = fileMetas.iterator.flatMap { fm =>
      if (fm.start + fm.rows <= from || fm.start >= until) Iterator.empty
      else if (skippableByBound(fm.maxId, idLower)) Iterator.empty
      else if (skippableByIds(fm.minId, fm.maxId, idFilter)) Iterator.empty
      else readFile(fm, from, until, withPayload, vecCols, idLower, idFilter)
    }
    val lowered = idLower.fold(base)(b =>
      base.filter(p => SparkStringOrder.gt(p.id, b)))
    val filtered = idFilter.fold(lowered)(ids => lowered.filter(p => ids(p.id)))
    limit.fold(filtered)(n => filtered.take(n))
  }

  /** Decode one file's row groups overlapping [from, until): requested-
    * schema projection, row-group skip outside the window, below the
    * keyset bound or clear of the id filter. The file's kept rows are
    * buffered whole before the iterator returns (the reader closes
    * first).
    */
  private def readFile(fm: FileMeta, from: Long, until: Long,
                       withPayload: Boolean,
                       vecCols: Seq[FieldCols],
                       idLower: Option[String],
                       idFilter: Option[Set[String]] = None): Iterator[Point] = {
    val in = ParquetLog.openReader(fm.path)
    filesOpened.incrementAndGet()
    try {
      val fileSchema = in.getFooter.getFileMetaData.getSchema
      val keep = Seq("id") ++ (if (withPayload) Seq("payload") else Nil) ++
        vecCols.flatMap(physicalCols)
      val requested = new MessageType(fileSchema.getName,
        fileSchema.getFields.asScala.filter(t => keep.contains(t.getName)).asJava)
      in.setRequestedSchema(requested)
      val colIO = new ColumnIOFactory().getColumnIO(requested, fileSchema, true)
      def fieldIdx(name: String): Int = requested.getFieldIndex(name)
      val idIdx = fieldIdx("id")
      val payIdx = if (withPayload) Some(fieldIdx("payload")) else None
      val vecIdx = vecCols.collect { case DenseCol(f, cn) => (f, fieldIdx(cn)) }
      val sparseIdx = vecCols.collect {
        case SparseCols(f, ic, vc) => (f, fieldIdx(ic), fieldIdx(vc))
      }
      val multiIdx = vecCols.collect {
        case MultiCol(f, cn) => (f, fieldIdx(cn))
      }
      val out = Seq.newBuilder[Point]
      var rgStart = fm.start
      fm.blocks.foreach { b =>
        val bStart = rgStart
        rgStart += b.rows
        val overlaps = bStart < until && bStart + b.rows > from &&
          !skippableByBound(b.maxId, idLower) &&
          !skippableByIds(b.minId, b.maxId, idFilter)
        if (!overlaps) { in.skipNextRowGroup(); () }
        else {
          val pages = in.readNextRowGroup()
          rowGroupsRead.incrementAndGet()
          val rr = colIO.getRecordReader(pages, new GroupRecordConverter(requested))
          val n = pages.getRowCount
          var i = 0L
          while (i < n) {
            val g = rr.read()
            val gi = bStart + i
            if (gi >= from && gi < until)
              out += decode(g, idIdx, payIdx, vecIdx, sparseIdx, multiIdx)
            i += 1
          }
        }
      }
      out.result().iterator
    } finally in.close()
  }

  // ---------------------------------------------------------------- IVF --

  /** The IVF sidecar, when [[ParquetCollectionStore.writeIvfSidecar]] laid
    * one down under `dir/_ivf` AND this store was opened with
    * `ivfNprobe > 0`: `field` is the dense field the sidecar indexes,
    * `centroids` a tiny store-layout parquet (id = zero-padded cluster,
    * vector = centroid), `points` the corpus re-laid-out
    * `partitionBy(cluster)`. A pushed top-k on that field then serves
    * PROBE-PRUNED: nearest `ivfNprobe` centroids picked from the
    * model-sized centroid store, only those clusters' files opened —
    * the primary corpus files are never touched (asserted via the
    * [[filesOpened]] counters in CollectionDataSourceSpec). This is the
    * store-side analog of the backend serving `QueryPoints` from its own
    * index (/root/reference/src/table.rs:279-302) rather than the
    * engine scoring above the scan — at 100 TB the difference is reading
    * nprobe/nlist of the corpus per query instead of all of it.
    */
  /** `insertedAt`: the log position up to which the cluster partitions
    * are CURRENT — advanced past `builtAt` by the incremental
    * maintenance path (see [[ivfMaintainer]]), reset by a rebuild.
    */
  private case class IvfSidecar(field: String,
                                centroidStore: ParquetCollectionStore,
                                insertedAt: Long)

  // line 2 = the log position the build sealed (its freshness point);
  // a legacy single-line meta has none and serves as-is
  @transient private lazy val ivfSidecar: Option[IvfSidecar] =
    if (ivfNprobe <= 0) None
    else ParquetCollectionStore.markerLines(
        new java.io.File(s"$dir/_ivf/field.txt")).map { lines =>
      IvfSidecar(lines(0), new ParquetCollectionStore(
          s"$dir/_ivf/centroids", collection, descriptor),
        ParquetCollectionStore.appliedAt(new java.io.File(s"$dir/_ivf"),
          lines, 1))
    }

  /** Tombstoned cluster rows (the IVF analog of the HNSW ghost flags):
    * a DELETE absorbs as an O(batch) flag append; flagged ids never
    * score; consolidations and the rebuild reclaim them.
    */
  @transient private lazy val ivfDeadIds: Set[String] =
    ParquetCollectionStore.readIdFlags(
      new java.io.File(s"$dir/_ivf/dead.txt"))

  /** Points absorbed into the cluster partitions by the incremental
    * maintenance path (specs).
    */
  @transient lazy val ivfIncInserts = new AtomicLong(0L)

  /** Tail points brute-rescored by an IVF serve's freshness overlay
    * (specs — zero after an absorbed batch).
    */
  @transient lazy val ivfTailRescored = new AtomicLong(0L)

  /** Per-cluster sub-stores, created lazily ONLY for probed clusters (an
    * unprobed cluster's files are never listed, let alone opened) and
    * cached across queries — footer metadata loads once per cluster.
    */
  @transient private lazy val clusterStores =
    scala.collection.concurrent.TrieMap.empty[String, ParquetCollectionStore]

  /** Probed clusters touched since JVM start, for specs/probes. */
  def ivfClustersTouched: Seq[String] = clusterStores.keys.toSeq.sorted

  private def clusterStoreFor(value: String): Option[ParquetCollectionStore] = {
    val sub = new java.io.File(s"$dir/_ivf/points/cluster=$value")
    if (!sub.isDirectory) None // empty cluster: no partition directory
    else Some(clusterStores.getOrElseUpdate(value, new ParquetCollectionStore(
      sub.getAbsolutePath, collection, descriptor)))
  }

  /** Pushed top-k: IVF-probed when the sidecar covers the queried field,
    * brute-force over [[queryPoints]] otherwise. The probed path is the
    * backend's ANN semantics — recall < 1 by construction, higher
    * `ivfNprobe` = higher recall — and composes with the payload filter
    * (conditions evaluate inside the probed clusters' scoring pass,
    * BEFORE ranking, same as the base contract). Probe selection is
    * itself a store search: nearest-centroid = euclid top-`nprobe` over
    * the centroid store, ties on cluster ascending (the zero-padded ids
    * sort numerically), identical to [[graft.ops.Ann.IvfIndex.search]]'s
    * probe rule — so the pruned result equals the engine-side bucketed
    * path row for row.
    */
  override def searchPointsFiltered(c: String, spec: SearchSpec,
                                    withPayload: Boolean,
                                    vectorFields: Seq[String],
                                    pfilter: PayloadFilter): Seq[(Point, Double)] =
    sparseServe(c, spec, withPayload, vectorFields, pfilter)
      .orElse(multiIndexedServe(c, spec, withPayload, vectorFields, pfilter))
      .orElse(prefilterServe(c, spec, withPayload, vectorFields, pfilter))
      .orElse(geoServe(c, spec, withPayload, vectorFields, pfilter))
      .orElse(textServe(c, spec, withPayload, vectorFields, pfilter))
      .orElse(hnswServe(c, spec, withPayload, vectorFields, pfilter))
      .orElse(ivfServe(c, spec, withPayload, vectorFields, pfilter))
      .getOrElse(super.searchPointsFiltered(c, spec, withPayload,
        vectorFields, pfilter))

  // ------------------------------------------- insertion-order HNSW --

  /** Segment graphs loaded by the HNSW serve since JVM start (specs). */
  @transient lazy val hnswSegmentsLoaded = new AtomicLong(0L)

  /** Filtered serves answered by the tiny-set exact micro-path (specs). */
  @transient lazy val hnswFilteredExactServes = new AtomicLong(0L)

  /** Filtered serves answered by the accepting graph walk (specs). */
  @transient lazy val hnswFilteredWalkServes = new AtomicLong(0L)

  /** Points absorbed into the per-segment graphs by the incremental
    * insert path (specs — proves post-upsert serves are graph-served).
    */
  @transient lazy val hnswIncInserts = new AtomicLong(0L)

  /** Tail points BRUTE-rescored by an HNSW serve's freshness overlay
    * (specs — zero after an absorbed insert batch: the graph is
    * current, no tail leg runs).
    */
  @transient lazy val hnswTailRescored = new AtomicLong(0L)

  /** The insertion-order HNSW sidecar, when
    * [[ParquetCollectionStore.writeHnswSidecar]] laid one down under
    * `dir/_hnsw` AND this store was opened with `hnswEf > 0`: the
    * corpus re-laid-out `partitionBy(seg)` (the per-segment model —
    * one graph per segment, [[graft.ops.Ann.buildHnsw]]) plus the edge
    * table per segment. A pushed COSINE top-k then serves GRAPH-WALKED:
    * each segment's greedy descent + efSearch beam touches ~ef·m·levels
    * vectors of ITS resident graph instead of scanning the corpus — the
    * store-side analog of the backend serving `QueryPoints` from its
    * per-segment HNSW (the reference backend's index,
    * /root/reference/tests/bin/config.yaml:169-191). Segments load
    * lazily and stay MEMORY-RESIDENT per store instance (the rows —
    * payload and vectors, id-indexed — plus vectors, norms and the
    * walk-ready graph, each built once per load — exactly a real HNSW
    * backend's serving model; size segments to the executor with the
    * build's numSegments dial). A full-precision search opens no
    * parquet once its segments are loaded.
    */
  /** `insertedAt`: the log position up to which the graphs are CURRENT
    * — advanced past `builtAt` by the incremental insert path (every
    * new-id upsert batch absorbed into the per-segment graphs), reset
    * to `builtAt` by a rebuild. The freshness overlay replays only the
    * tail past it, so an append-only collection serves graph-walked
    * with an EMPTY tail between optimizes.
    */
  /** `kind`: "dense" = the graph is over the field's own vectors;
    * "multi" = the field is a MULTI-VECTOR and the graph is over the
    * MEAN-POOLED keys ([[ParquetCollectionStore.writeMultiHnswSidecar]])
    * — candidates come from the pooled walk, the exact MaxSim rescore
    * recovers the page.
    */
  private case class HnswSidecar(field: String, m: Int,
                                 segments: Int, seed: Long, metric: String,
                                 insertedAt: Long, kind: String)

  @transient private lazy val hnswSidecar: Option[HnswSidecar] =
    if (hnswEf <= 0) None
    else ParquetCollectionStore.markerLines(
        new java.io.File(s"$dir/_hnsw/field.txt")).map { l =>
      HnswSidecar(l(0), l(2).toInt, l(4).toInt,
        l(5).toLong, if (l.length > 6 && l(6).nonEmpty) l(6) else "cosine",
        ParquetCollectionStore.appliedAt(new java.io.File(s"$dir/_hnsw"),
          l, 1),
        if (l.length > 7 && l(7).nonEmpty) l(7) else "dense")
    }

  /** SERVE-memory model: every query fans over all segments, so a
    * store serving HNSW lazily caches EVERY segment's vectors, norms and
    * walk graph (and, at full precision, its rows — [[hnswRowsCache]])
    * in its JVM, loading each segment ONCE per store instance
    * (a compute-once map: readers racing on a cold segment wait for the
    * one load instead of repeating it). `numSegments` bounds BUILD
    * memory (one segment's graph per task), NOT serve memory per store
    * — the serve-side lever is SHARDING: a store is one node's slice,
    * and a corpus bigger than one node's RAM splits across
    * [[ShardedCollectionStore]] members, each resident for its own
    * slice (exactly a real HNSW backend's per-node serving model).
    */
  @transient private lazy val hnswSegCache = new java.util.concurrent
    .ConcurrentHashMap[Int, graft.ops.HnswSegment.Resident]

  /** Quantized-walk serves (specs). */
  @transient lazy val hnswQuantServes = new AtomicLong(0L)

  /** Segments loaded into the QUANTIZED cache (specs). */
  @transient lazy val hnswQuantSegmentsLoaded = new AtomicLong(0L)

  /** The quantized serve tier's resident state, per segment: int8
    * codes, per-vector scales, code L2 norms (cosine's scale-cancelled
    * denominator), and the walk graph (with the node ids) — ~8x fewer vector
    * bytes than [[hnswSegCache]]'s doubles, which is the point of the
    * tier (the backend's quantized-in-RAM graph traversal,
    * /root/reference/tests/bin/config.yaml:217-219).
    */
  @transient private lazy val hnswQuantSegCache = new java.util.concurrent
    .ConcurrentHashMap[Int, (Array[Array[Byte]], Array[Float], Array[Double],
      graft.ops.HnswSegment.Graph)]

  private def hnswQuantSegmentFor(seg: Int):
      Option[(Array[Array[Byte]], Array[Float], Array[Double],
        graft.ops.HnswSegment.Graph)] = {
    val sub = new java.io.File(s"$dir/_hnsw/codes/seg=$seg")
    if (!sub.isDirectory) None
    else Some(hnswQuantSegCache.computeIfAbsent(seg, _ => {
      hnswQuantSegmentsLoaded.incrementAndGet(): Unit
      val rows = Option(sub.listFiles()).getOrElse(Array.empty).toIndexedSeq
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .flatMap(f => ParquetLog.readCodeRows(f.getAbsolutePath))
      val codes = rows.map(_._2).toArray
      val scales = rows.map(_._3).toArray
      val norms = codes.map { cd =>
        var s = 0.0
        var i = 0
        while (i < cd.length) { s += cd(i).toDouble * cd(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      (codes, scales, norms,
        graft.ops.HnswSegment.Graph(rows.map(_._1), hnswEdgeRows(seg)))
    }))
  }

  /** One segment's stored edge rows, base and appended files alike. */
  private def hnswEdgeRows(seg: Int): IndexedSeq[(Int, String, String)] = {
    val edir = new java.io.File(s"$dir/_hnsw/edges/seg=$seg")
    Option(edir.listFiles()).getOrElse(Array.empty).toIndexedSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .flatMap(f => ParquetLog.readEdgeRows(f.getAbsolutePath))
  }

  /** Resident VECTOR and PAYLOAD bytes of the loaded HNSW serve caches
    * (probe surface): the full-precision tier pays 8 bytes/dim for the
    * walk's vectors plus its resident rows ([[SegmentRows.bytes]]); the
    * quantized tier pays 1 byte/dim + 12 bytes/vector (scale + code
    * norm) and holds no rows. Ids and graphs are identical in both
    * tiers and excluded.
    */
  def hnswResidentBytes: Long = {
    val full = hnswSegCache.values.asScala.iterator.map { r =>
      r.pts.iterator.map(p => 8L * p._2.length).sum
    }.sum
    val rows = hnswRowsCache.values.asScala.iterator.map(_.bytes).sum
    val quant = hnswQuantSegCache.values.asScala.iterator
      .map { case (codes, _, _, _) =>
        codes.iterator.map(c => c.length.toLong + 12L).sum
      }.sum
    full + rows + quant
  }

  /** Tombstoned graph nodes (the backend's deleted-flags model): a
    * DELETE absorbs as an O(batch) flag append, the ghost keeps
    * NAVIGATING (connectivity survives) but never enters a result
    * beam; consolidations and the offline rebuild reclaim ghosts.
    * Churn-bounded — reset by every rebuild.
    */
  @transient private lazy val hnswDeadIds: Set[String] =
    ParquetCollectionStore.readIdFlags(
      new java.io.File(s"$dir/_hnsw/dead.txt"))

  /** The segment sub-store alone (the rows load, and the codes tier's
    * margin reads) — no graph load, shared by every segment reader so
    * each segment instantiates once.
    */
  @transient private lazy val hnswSegStores =
    new java.util.concurrent.ConcurrentHashMap[Int, ParquetCollectionStore]

  private def hnswSegmentStore(seg: Int): Option[ParquetCollectionStore] = {
    val sub = new java.io.File(s"$dir/_hnsw/points/seg=$seg")
    if (!sub.isDirectory) None
    else Some(hnswSegStores.computeIfAbsent(seg, _ =>
      new ParquetCollectionStore(sub.getAbsolutePath, collection,
        descriptor)))
  }

  /** Segment-partition files opened by this store's HNSW serve (specs). */
  private[sources] def hnswSegmentFilesOpened: Long =
    hnswSegStores.values.asScala.iterator.map(_.filesOpened.get).sum

  /** The int8 codes tier serves this store: a rescore margin was asked
    * for and `_hnsw/codes` exists. Such a store walks codes (for the
    * inner-product metrics; euclid walks full precision) and reads full
    * precision only for its margins, from parquet — its rows never
    * become resident, which is the tier's RAM claim.
    */
  private def hnswCodesTier: Boolean =
    hnswCandidateK > 0 && new java.io.File(s"$dir/_hnsw/codes").isDirectory

  /** A full-precision segment's ROWS as the store keeps them resident:
    * every point of the partition in decode order, with its payload and
    * every vector field the partition stores (keyed by physical column,
    * [[rowKey]]), plus an id -> slots index. Duplicate ids keep every
    * slot, as a parquet read returns them.
    */
  private final class SegmentRows(rows: IndexedSeq[Point],
                                  payload: Boolean, cols: Set[String]) {
    private val slots: Map[String, Array[Int]] =
      rows.indices.groupBy(i => rows(i).id).map { case (id, is) =>
        id -> is.toArray }

    /** Whether the rows hold everything a read of (`withPayload`,
      * `fcs`) returns.
      */
    def covers(withPayload: Boolean, fcs: Seq[FieldCols]): Boolean =
      (!withPayload || payload) && fcs.flatMap(physicalCols).forall(cols)

    /** The rows of `ids` (every row for None) in slot order. */
    def select(ids: Option[Set[String]]): Iterator[Point] = ids match {
      case None => rows.iterator
      case Some(want) if want.size >= rows.size =>
        rows.iterator.filter(p => want(p.id))
      case Some(want) =>
        want.iterator.flatMap(id => slots.getOrElse(id, Array.emptyIntArray))
          .toArray.sorted.iterator.map(rows)
    }

    /** 4 bytes per stored float or sparse index, plus payload UTF-8 bytes. */
    def bytes: Long = rows.iterator.map { p =>
      p.payload.fold(0L)(_.getBytes(
        java.nio.charset.StandardCharsets.UTF_8).length.toLong) +
        4L * (p.dense.valuesIterator.map(_.length).sum +
          p.multi.valuesIterator.map(_.iterator.map(_.length).sum).sum +
          p.sparse.valuesIterator.map(t => t._1.length + t._2.length).sum)
    }.sum
  }

  /** The key a resident row stores a field under: dense and multi by
    * physical column (an unnamed collection's one column answers to any
    * requested name, as [[queryPoints]] does), sparse by field name.
    */
  private def rowKey(fc: FieldCols): String = fc match {
    case DenseCol(_, cn) => cn
    case MultiCol(_, cn) => cn
    case SparseCols(f, _, _) => f
  }

  /** A resident row narrowed to what a parquet read of (`withPayload`,
    * `fcs`) returns: requested keys, in request order.
    */
  private def narrowRow(p: Point, withPayload: Boolean,
                        fcs: Seq[FieldCols]): Point =
    Point(p.id, if (withPayload) p.payload else None,
      dense = fcs.flatMap {
        case fc @ DenseCol(f, _) => p.dense.get(rowKey(fc)).map(f -> _)
        case _ => None
      }.toMap,
      multi = fcs.flatMap {
        case fc @ MultiCol(f, _) => p.multi.get(rowKey(fc)).map(f -> _)
        case _ => None
      }.toMap,
      sparse = fcs.flatMap {
        case fc @ SparseCols(f, _, _) => p.sparse.get(rowKey(fc)).map(f -> _)
        case _ => None
      }.toMap)

  /** Resident rows per segment ([[SegmentRows]]), filled once per store
    * instance by a compute-once map — never on a codes-tier store.
    */
  @transient private lazy val hnswRowsCache = new java.util.concurrent
    .ConcurrentHashMap[Int, SegmentRows]

  /** Segments whose rows are resident (specs). */
  private[sources] def hnswRowSegments: Int = hnswRowsCache.size

  private def hnswRowsFor(sc: HnswSidecar, seg: Int): Option[SegmentRows] =
    if (hnswCodesTier) None
    else hnswSegmentStore(seg).map(st => hnswRowsCache.computeIfAbsent(seg,
      _ => {
        val stored = st.storedColumns
        val fcs = (descriptor.fields.map(_.name) :+ sc.field).map(fieldCols)
          .filter(fc => physicalCols(fc).forall(stored))
        val payload = stored("payload")
        new SegmentRows(st.queryPoints(collection, 0L,
            st.pointCount(collection), payload, fcs.map(rowKey).distinct,
            None).toIndexedSeq,
          payload, fcs.flatMap(physicalCols).toSet)
      }))

  /** One segment's points for `ids` (every point for None) as a read of
    * (`withPayload`, `fields`) returns them: from the resident rows when
    * this store serves full precision and they hold those pieces, else
    * decoded from the segment partition (the codes tier's path).
    */
  private def segmentPoints(sc: HnswSidecar, seg: Int, c: String,
                            withPayload: Boolean, fields: Seq[String],
                            ids: Option[Set[String]]): Iterator[Point] = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    val fcs = fields.distinct.map(fieldCols)
    hnswRowsFor(sc, seg).filter(_.covers(withPayload, fcs)) match {
      case Some(r) => r.select(ids).map(narrowRow(_, withPayload, fcs))
      case None => hnswSegmentStore(seg).iterator.flatMap(st =>
        st.queryPoints(c, 0L, st.pointCount(c), withPayload, fields, None,
          idFilter = ids))
    }
  }

  private def hnswSegmentFor(sc: HnswSidecar, seg: Int):
      Option[graft.ops.HnswSegment.Resident] = {
    val sub = new java.io.File(s"$dir/_hnsw/points/seg=$seg")
    if (!sub.isDirectory) None
    else Some(hnswSegCache.computeIfAbsent(seg, _ => {
      hnswSegmentsLoaded.incrementAndGet(): Unit
      val pts = segmentPoints(sc, seg, collection, withPayload = false,
          Seq(sc.field), None)
        .flatMap(p => ParquetCollectionStore
          .pooledVector(sc.kind, sc.field, p).map((p.id, _)))
        .toIndexedSeq
      new graft.ops.HnswSegment.Resident(pts, hnswEdgeRows(seg))
    }))
  }

  /** Pushed top-k from the per-segment HNSW graphs (any engine metric
    * — the graph is BUILT under one metric, recorded in the meta, and
    * serves exactly that metric's queries; euclid runs the same walk on
    * negated-distance preference): every segment walks ITS graph
    * (greedy descent + beam at
    * max(hnswEf, window)), pages merge, the freshness overlay masks
    * mutated ids and merges the tail exactly like the IVF serve, and
    * the winners' requested pieces fetch from the SEGMENT partitions —
    * the primary corpus files never open (spec-asserted). ANN
    * semantics: recall < 1 by construction; `hnswEf` is the dial.
    *
    * A PAYLOAD FILTER composes when every `must` condition is servable
    * by a payload-index sidecar (no mustNot/minShould): the matching id
    * set resolves exactly from the index partitions' id columns
    * ([[indexResolvedIds]]) and the serve plans by its cardinality —
    * the backend's filtrable-HNSW planner:
    *   - tiny matched set (<= max(4·window,
    *     [[ParquetCollectionStore.hnswFilteredExactMax]])): score the
    *     matched ids directly from the resident segment rows — exact,
    *     the graph never walks (qdrant's below-full-scan-threshold arm);
    *   - otherwise: the accepting graph walk — every node navigates,
    *     only matching ids enter the result beam, `ef` widened by the
    *     inverse match fraction to hold recall as the filter thins the
    *     answer set.
    * Non-index-resolvable filters, sparse queries, and other metrics
    * fall through to the exact paths.
    */
  private def hnswServe(c: String, spec: SearchSpec, withPayload: Boolean,
                        vectorFields: Seq[String],
                        pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    hnswSidecar
      .filter(sc => sc.kind == "dense" && sc.field == spec.field &&
        spec.metric == sc.metric && spec.sparseIndices.isEmpty &&
        spec.multiQuery.isEmpty)
      .flatMap { sc =>
        if (pfilter.isEmpty) hnswUnfiltered(sc, c, spec, withPayload,
          vectorFields, pfilter)
        else hnswFiltered(sc, c, spec, withPayload, vectorFields, pfilter)
      }

  private def hnswUnfiltered(sc: HnswSidecar, c: String, spec: SearchSpec,
                             withPayload: Boolean, vectorFields: Seq[String],
                             pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    tailSince(sc.insertedAt).map { tail =>
      hnswTailRescored.addAndGet(tail.added.size): Unit
      val window = spec.k + spec.offset + tail.masked.size
      // the QUANTIZED tier, when the codes sidecar exists and the store
      // was opened with a rescore margin: walk the graphs over int8
      // codes (8x fewer resident bytes), exact-rescore only the margin.
      // int8 approximates the inner-product metrics; euclid serves
      // full-precision.
      if (hnswCodesTier && spec.metric != "euclid")
        hnswQuantizedPage(sc, c, spec, withPayload, vectorFields, pfilter,
          tail, window)
      else {
      val ef = math.max(hnswEf, window)
      val desc = SearchSpec.descending(spec.metric)
      // tombstoned ghosts navigate but never enter the beam
      val live: String => Boolean =
        if (hnswDeadIds.isEmpty) _ => true else id => !hnswDeadIds(id)
      val pages = (0 until sc.segments).flatMap { seg =>
        hnswSegmentFor(sc, seg).toSeq.flatMap(_.search(spec.query, window,
          ef, live, spec.metric))
      }
      val top = pages.filter { case (_, s) => spec.passes(s) }
        .sortWith { case ((ia, sa), (ib, sb)) =>
          if (sa != sb) { if (desc) sa > sb else sa < sb }
          else SparkStringOrder.gt(ib, ia)
        }
        .take(window).filterNot { case (id, _) => tail.masked(id) }
      val fetched = hnswFetch(sc, c, top.map(_._1).toSet, withPayload,
        vectorFields)
      mergeBest(spec, top.flatMap { case (id, s) =>
        fetched.get(id).map(p => (p, s)) } ++
        tailScored(tail, spec, withPayload, vectorFields, pfilter))
      }
    }

  /** The QUANTIZED serve page: walk every segment's graph over its int8
    * codes — cosine's per-vector scales CANCEL (codes·qcodes /
    * (|codes|·|qcodes|)); dot rescales by scale·qscale — take a
    * candidate margin of max(hnswCandidateK, window) per segment, then
    * exact-rescore ONLY the candidates from the full-precision segment
    * partitions. The backend's quantized-HNSW memory configuration
    * (`quantization_config` + rescore,
    * /root/reference/tests/bin/config.yaml:217-219): graph traversal
    * touches 1 byte/dim resident state, full precision reads bound by
    * the margin. ANN semantics with two dials: `hnswEf` (walk width)
    * and `hnswCandidateK` (rescore margin).
    */
  private def hnswQuantizedPage(sc: HnswSidecar, c: String, spec: SearchSpec,
                                withPayload: Boolean,
                                vectorFields: Seq[String],
                                pfilter: PayloadFilter, tail: LogTail,
                                window: Int): Seq[(Point, Double)] = {
    hnswQuantServes.incrementAndGet(): Unit
    val candK = math.max(hnswCandidateK, window)
    val live: String => Boolean =
      if (hnswDeadIds.isEmpty) _ => true else id => !hnswDeadIds(id)
    val cands = quantCandidates(sc, spec, candK,
      math.max(hnswEf, candK), live)
    val top = quantExactRescore(sc, c, spec, withPayload, vectorFields,
      cands).take(window).filterNot { case (p, _) => tail.masked(p.id) }
    mergeBest(spec, top ++
      tailScored(tail, spec, withPayload, vectorFields, pfilter))
  }

  /** Candidate ids from the int8-code walk across all segments —
    * cosine's per-vector scales cancel (codes·qcodes /
    * (|codes|·|qcodes|)), dot rescales by scale·qscale; `admit` gates
    * result-beam admission (tombstones, the filtered acceptance set)
    * while rejected nodes keep navigating.
    */
  private def quantCandidates(sc: HnswSidecar, spec: SearchSpec,
                              candK: Int, ef: Int,
                              admit: String => Boolean): Set[String] = {
    val (qc, qScale) = quantizeQuery(spec.query)
    var qn = 0.0
    var qi = 0
    while (qi < qc.length) {
      qn += qc(qi).toDouble * qc(qi).toDouble; qi += 1
    }
    qn = math.sqrt(qn)
    val cosine = spec.metric != "dot" // euclid never routes here
    if (cosine && qn == 0.0) return Set.empty // degenerate: tail only
    (0 until sc.segments).flatMap { seg =>
      hnswQuantSegmentFor(seg).toSeq.flatMap {
        case (codes, scales, norms, graph) =>
          def intdot(i: Int): Long = {
            val cd = codes(i)
            val n = math.min(cd.length, qc.length)
            var s = 0L
            var k = 0
            while (k < n) { s += cd(k) * qc(k); k += 1 }
            s
          }
          val qsF: Int => Double =
            if (cosine) { i =>
              val d = norms(i) * qn
              if (d == 0.0) 0.0 else intdot(i).toDouble / d
            } else { i =>
              intdot(i).toDouble * scales(i).toDouble * qScale.toDouble
            }
          val ok: Int => Boolean = i => admit(graph.ids(i)) &&
            (!cosine || norms(i) != 0.0)
          graph.walk(candK, ef, ok, qsF).map { case (j, _) => graph.ids(j) }
      }
    }.toSet
  }

  /** Exact full-precision rescore of ONLY the candidate margin, from
    * the segment partitions (the primary corpus files never open) —
    * best-first with the id tiebreak; callers window and mask.
    */
  private def quantExactRescore(sc: HnswSidecar, c: String,
                                spec: SearchSpec, withPayload: Boolean,
                                vectorFields: Seq[String],
                                cands: Set[String]): Seq[(Point, Double)] = {
    val want = (vectorFields :+ spec.field).distinct
    val page = (0 until sc.segments).flatMap { seg =>
      segmentPoints(sc, seg, c, withPayload, want, Some(cands))
    }.flatMap { p =>
      p.dense.get(spec.field)
        .flatMap(v => SearchSpec.score(spec.metric, v, spec.query))
        .filter(spec.passes)
        .map(s => (FetchSpec.narrowed(p, vectorFields), s))
    }
    val desc = SearchSpec.descending(spec.metric)
    page.sortWith { case ((pa, sa), (pb, sb)) =>
      if (sa != sb) { if (desc) sa > sb else sa < sb }
      else SparkStringOrder.gt(pb.id, pa.id)
    }
  }

  /** The filtered arms. Matched ids are AS OF the payload arms' build
    * positions; the overlay tail replays from the OLDEST build position
    * of any sidecar involved (graph or payload index) — a superset tail,
    * so every id either walk-served (unmutated since both builds) or
    * masked-and-rescored from the log tail under the CURRENT filter.
    * Exact with respect to freshness; the walk arm keeps ANN recall
    * semantics, the micro-path arm is exact outright.
    */
  private def hnswFiltered(sc: HnswSidecar, c: String, spec: SearchSpec,
                           withPayload: Boolean, vectorFields: Seq[String],
                           pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    indexResolvedIds(pfilter).flatMap { case (ids0, armBuilt) =>
      val overlayAt = Seq(sc.insertedAt, armBuilt).filter(_ >= 0)
        .reduceOption(_ min _).getOrElse(-1L)
      tailSince(overlayAt).map { tail =>
        hnswTailRescored.addAndGet(tail.added.size): Unit
        // tombstoned ghosts leave the acceptance set (an absorbed
        // delete is not in the tail anymore — the flag IS its mask)
        val matched = ids0 -- tail.masked -- hnswDeadIds
        val window = spec.k + spec.offset + tail.masked.size
        val fresh = tailScored(tail, spec, withPayload, vectorFields, pfilter)
        // COST-BASED arm choice: the walk widens ef by the inverse match
        // fraction, so whenever the matched set is no bigger than the
        // widened beam the walk would visit (~ef nodes), exact-scoring
        // the matched ids is both cheaper AND exact — take the micro
        // arm. The fixed floor keeps tiny sets exact even when ef is
        // small. Kills the mid-selectivity band where the widened walk
        // visits more nodes than the answer set holds (e.g. 10k matched
        // of 1e9 total: ef widens to ~6.4M while exact scores 10k).
        val total = math.max(pointCount(collection), 1L)
        val ef0 = math.max(hnswEf, window)
        val widenedEf = math.min(Int.MaxValue.toLong,
          if (matched.isEmpty) 0L
          else math.ceil(ef0.toDouble * total / matched.size).toLong)
        val exactMax = math.max(math.max(4L * window, widenedEf),
          ParquetCollectionStore.hnswFilteredExactMax.toLong)
        val page: Seq[(Point, Double)] =
          if (matched.isEmpty) Nil
          else if (matched.size <= exactMax) {
            hnswFilteredExactServes.incrementAndGet(): Unit
            val want = (vectorFields :+ spec.field).distinct
            (0 until sc.segments).flatMap { seg =>
              segmentPoints(sc, seg, c, withPayload, want, Some(matched))
            }.flatMap { p =>
              p.dense.get(spec.field)
                .flatMap(v => SearchSpec.score(spec.metric, v, spec.query))
                .filter(spec.passes)
                .map(s => (FetchSpec.narrowed(p, vectorFields), s))
            }
          } else if (hnswCodesTier && spec.metric != "euclid") {
            // the QUANTIZED walk under a filter: same accepting-walk
            // rule over the int8 codes (matched ids gate the beam,
            // everything navigates), exact rescore of the margin — the
            // full-precision vector cache never loads for filtered
            // serves either (the tier's RAM claim holds under filters,
            // the backend's quantization-with-filters behavior)
            hnswFilteredWalkServes.incrementAndGet(): Unit
            hnswQuantServes.incrementAndGet(): Unit
            val candK = math.max(hnswCandidateK, window)
            val cands = quantCandidates(sc, spec, candK,
              math.max(widenedEf.toInt, candK), matched)
            quantExactRescore(sc, c, spec, withPayload, vectorFields,
              cands).take(window)
          } else {
            hnswFilteredWalkServes.incrementAndGet(): Unit
            val ef = widenedEf.toInt
            val desc = SearchSpec.descending(spec.metric)
            val top = (0 until sc.segments).flatMap { seg =>
              hnswSegmentFor(sc, seg).toSeq.flatMap(_.search(spec.query,
                window, ef, matched, spec.metric))
            }.filter { case (_, s) => spec.passes(s) }
              .sortWith { case ((ia, sa), (ib, sb)) =>
                if (sa != sb) { if (desc) sa > sb else sa < sb }
                else SparkStringOrder.gt(ib, ia)
              }.take(window)
            val fetched = hnswFetch(sc, c, top.map(_._1).toSet, withPayload,
              vectorFields)
            top.flatMap { case (id, s) => fetched.get(id).map(p => (p, s)) }
          }
        mergeBest(spec, page ++ fresh)
      }
    }

  /** INDEXED MULTI-VECTOR (MaxSim) search — the backend's multivector
    * HNSW (it builds the graph over multivectors with the MaxSim
    * comparator, /root/reference/tests/e2e.rs:142-147) at the store
    * seam: candidates come from the POOLED-key graph walk (each point's
    * vector set mean-pooled at build —
    * [[ParquetCollectionStore.writeMultiHnswSidecar]]; the query pooled
    * in [[SearchSpec.fromOptions]]), then the exact MaxSim kernel
    * rescores ONLY the candidate margin from the segment partitions —
    * the primary corpus files never open. ANN semantics: recall < 1 by
    * construction; `hnswEf` (walk width) and `hnswCandidateK` (rescore
    * margin, default 4x the page window) are the dials. Late-interaction
    * corpora are exactly the ones too big to brute-scan — this is the
    * access path that replaces the engine-side MaxSim scan.
    */
  private def multiIndexedServe(c: String, spec: SearchSpec,
                                withPayload: Boolean,
                                vectorFields: Seq[String],
                                pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    spec.multiQuery.flatMap { qm =>
      hnswSidecar
        .filter(sc => sc.kind == "multi" && sc.field == spec.field)
        .flatMap { sc =>
          if (pfilter.isEmpty)
            multiIndexedUnfiltered(sc, c, spec, qm, withPayload,
              vectorFields, pfilter)
          else
            multiIndexedFiltered(sc, c, spec, qm, withPayload,
              vectorFields, pfilter)
        }
    }

  private def multiIndexedUnfiltered(sc: HnswSidecar, c: String,
                                     spec: SearchSpec,
                                     qm: Array[Array[Double]],
                                     withPayload: Boolean,
                                     vectorFields: Seq[String],
                                     pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    tailSince(sc.insertedAt).map { tail =>
      hnswTailRescored.addAndGet(tail.added.size): Unit
      val window = spec.k + spec.offset + tail.masked.size
      // default margin = the WALK WIDTH, floored at 4x the window: the
      // pooled dot is a MaxSim surrogate, so every node the beam
      // surfaced is worth the exact rescore — a margin tighter than ef
      // throws verified candidates away (the quantmulti probe measured
      // recall 0.81 at 4x-window vs 0.94 with an ef-wide margin)
      val candK = math.max(
        if (hnswCandidateK > 0) hnswCandidateK
        else math.max(4 * window, hnswEf),
        window)
      val ef = math.max(hnswEf, candK)
      val live: String => Boolean =
        if (hnswDeadIds.isEmpty) _ => true else id => !hnswDeadIds(id)
      val cands = multiCandidates(sc, spec, candK, ef, live)
      val top = multiExactMaxSim(sc, c, spec, qm, withPayload,
          vectorFields, cands)
        .take(window).filterNot { case (p, _) => tail.masked(p.id) }
      mergeBest(spec, top ++
        tailScored(tail, spec, withPayload, vectorFields, pfilter))
    }

  /** The FILTERED pooled-key serve — the dense filtered-HNSW planner
    * composed with the exact MaxSim rescore (the backend filters every
    * query form uniformly: its ColBERT section sits beside the filtered
    * sections, /root/reference/tests/bin/tests.sql:156-168): the
    * matched-id set resolves exactly from the payload-index partitions
    * ([[indexResolvedIds]]) and the serve plans by its cardinality —
    * a matched set at or under the micro-path dial MaxSim-scores
    * directly from the segment partitions (the graph never walks, exact
    * outright); larger sets run the ACCEPTING pooled-key walk (int8
    * codes when the tier is present) with ef widened by the inverse
    * match fraction, then the exact MaxSim rescore of the accepted
    * margin. Freshness: matched ids are AS OF the arm builds; the
    * overlay replays from the OLDEST involved position and re-scores
    * the tail under the CURRENT filter — same discipline as
    * [[hnswFiltered]].
    */
  private def multiIndexedFiltered(sc: HnswSidecar, c: String,
                                   spec: SearchSpec,
                                   qm: Array[Array[Double]],
                                   withPayload: Boolean,
                                   vectorFields: Seq[String],
                                   pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    indexResolvedIds(pfilter).flatMap { case (ids0, armBuilt) =>
      val overlayAt = Seq(sc.insertedAt, armBuilt).filter(_ >= 0)
        .reduceOption(_ min _).getOrElse(-1L)
      tailSince(overlayAt).map { tail =>
        hnswTailRescored.addAndGet(tail.added.size): Unit
        val matched = ids0 -- tail.masked -- hnswDeadIds
        val window = spec.k + spec.offset + tail.masked.size
        val fresh = tailScored(tail, spec, withPayload, vectorFields, pfilter)
        val total = math.max(pointCount(collection), 1L)
        val ef0 = math.max(hnswEf, window)
        val widenedEf = math.min(Int.MaxValue.toLong,
          if (matched.isEmpty) 0L
          else math.ceil(ef0.toDouble * total / matched.size).toLong)
        val exactMax = math.max(math.max(4L * window, widenedEf),
          ParquetCollectionStore.hnswFilteredExactMax.toLong)
        val page: Seq[(Point, Double)] =
          if (matched.isEmpty) Nil
          else if (matched.size <= exactMax) {
            hnswFilteredExactServes.incrementAndGet(): Unit
            multiExactMaxSim(sc, c, spec, qm, withPayload, vectorFields,
              matched)
          } else {
            hnswFilteredWalkServes.incrementAndGet(): Unit
            // default margin = the widened walk width (see the
            // unfiltered serve's margin note)
            val candK = math.max(
              if (hnswCandidateK > 0) hnswCandidateK
              else math.max(4 * window, widenedEf.toInt),
              window)
            val cands = multiCandidates(sc, spec, candK,
              math.max(widenedEf.toInt, candK), matched)
            multiExactMaxSim(sc, c, spec, qm, withPayload, vectorFields,
              cands).take(window)
          }
        mergeBest(spec, page ++ fresh)
      }
    }

  /** Candidate ids for the pooled-key stage — the int8-codes walk when
    * the codes tier is present and a rescore margin is configured (the
    * full-precision pooled cache never loads; multi specs carry the DOT
    * metric by construction, so [[quantCandidates]] takes its
    * scale-rescaled dot arm), else the full-precision pooled walk. DOT
    * preference either way: pooled(doc)·pooled(query) is the mean of
    * the pairwise dots, the MaxSim surrogate the exact margin repairs.
    */
  private def multiCandidates(sc: HnswSidecar, spec: SearchSpec,
                              candK: Int, ef: Int,
                              admit: String => Boolean): Set[String] =
    if (hnswCodesTier) {
      hnswQuantServes.incrementAndGet(): Unit
      quantCandidates(sc, spec, candK, ef, admit)
    } else
      (0 until sc.segments).flatMap { seg =>
        hnswSegmentFor(sc, seg).toSeq.flatMap(_.search(spec.query,
          candK, ef, admit, "dot"))
      }.map(_._1).toSet

  /** Exact MaxSim rescore of ONLY the candidate margin, from the
    * resident segment rows (the segment partitions on a codes-tier
    * store; the primary corpus files never open) — best-first with the
    * id tiebreak; callers window and mask.
    */
  private def multiExactMaxSim(sc: HnswSidecar, c: String, spec: SearchSpec,
                               qm: Array[Array[Double]],
                               withPayload: Boolean,
                               vectorFields: Seq[String],
                               cands: Set[String]): Seq[(Point, Double)] = {
    val want = (vectorFields :+ spec.field).distinct
    val page = (0 until sc.segments).flatMap { seg =>
      segmentPoints(sc, seg, c, withPayload, want, Some(cands))
    }.flatMap { p =>
      p.multi.get(spec.field)
        .map(dm => SearchSpec.scoreMulti(dm, qm))
        .filter(spec.passes)
        .map(s => (FetchSpec.narrowed(p, vectorFields), s))
    }
    page.sortWith { case ((pa, sa), (pb, sb)) =>
      if (sa != sb) sa > sb
      else SparkStringOrder.gt(pb.id, pa.id)
    }
  }

  /** Winners' requested pieces from the resident segment rows (the
    * segment partitions on a codes-tier store) — the primary corpus
    * files never open.
    */
  private def hnswFetch(sc: HnswSidecar, c: String, ids: Set[String],
                        withPayload: Boolean,
                        vectorFields: Seq[String]): Map[String, Point] =
    (0 until sc.segments).flatMap { seg =>
      segmentPoints(sc, seg, c, withPayload, vectorFields, Some(ids))
    }.map(p => p.id -> p).toMap

  /** Exact matched-id set of a fully index-servable filter (every
    * `must` condition servable by some payload-index sidecar, no
    * mustNot/minShould): per-key arms read ONLY the id column of their
    * matching value partitions and distinct keys intersect — O(matched)
    * id strings, zero payload/vector bytes, the filtered-ANN acceptance
    * set. Returns the ids plus the OLDEST involved build position (the
    * freshness overlay point; -1 = all legacy metas). None when the
    * filter isn't fully index-resolvable — callers fall through to the
    * exact scan arms. Cached per (filter shape, log head): repeated
    * filtered queries reuse the resolution until a mutation moves the
    * head.
    */
  // keyed on the STRUCTURAL filter (case-class equality), not its
  // describe string — a filter value containing describe syntax must
  // never collide with a structurally different filter; a compute-once
  // map, so readers racing on a fresh instance's first filtered search
  // resolve each filter once
  @transient private lazy val hnswIdCache = new java.util.concurrent
    .ConcurrentHashMap[(PayloadFilter, Long), Option[(Set[String], Long)]]

  /** Filter resolutions run by [[indexResolvedIds]] (specs). */
  @transient lazy val hnswFilterResolutions = new AtomicLong(0L)

  private def indexResolvedIds(pfilter: PayloadFilter): Option[(Set[String], Long)] = {
    if (pfilter.must.isEmpty || pfilter.mustNot.nonEmpty ||
      pfilter.minShould.nonEmpty) return None
    val head = if (logEnabled) ParquetLog.head(logDir) else 0L
    if (hnswIdCache.size > 64) hnswIdCache.clear()
    hnswIdCache.computeIfAbsent((pfilter, head), _ => {
      hnswFilterResolutions.incrementAndGet(): Unit
      val arms = indexArms(pfilter)
      if (!pfilter.must.forall(c => arms.exists(_.sc.servable(c)))) None
      else {
        val sets = arms.map { arm =>
          arm.dirs.flatMap(v => arm.sc.storeFor(v).toSeq.flatMap(st =>
            st.queryPoints(collection, 0L, st.pointCount(collection),
              withPayload = false, Nil, None).map(_.id))).toSet --
            arm.sc.deadIds
        }
        val builts = arms.map(_.sc.insertedAt).filter(_ >= 0)
        Some((sets.reduce(_ intersect _),
          if (builts.isEmpty) -1L else builts.min))
      }
    })
  }

  // --------------------------------------------------- sparse postings --

  /** Postings files read by the sparse pruned serve. */
  @transient lazy val sparseFilesOpened = new AtomicLong(0L)

  /** Points absorbed into the postings buckets by the incremental
    * maintenance path (specs).
    */
  @transient lazy val sparseIncInserts = new AtomicLong(0L)

  /** Tail points brute-rescored by a sparse serve's freshness overlay
    * (specs — zero after an absorbed batch).
    */
  @transient lazy val sparseTailRescored = new AtomicLong(0L)

  /** The sparse postings sidecar, when
    * [[ParquetCollectionStore.writeSparseSidecar]] laid one down under
    * `dir/_sparse`: one posting row per (dim, id, value) partitioned by
    * dim bucket (`db = dim % nBuckets`, [[graft.ops.SparseIndex]]'s
    * layout). A pushed SPARSE top-k reads only the buckets the query's
    * nonzero dims fall into — the scan IS the index query, qdrant's
    * sparse inverted index at the store seam
    * (/root/reference/src/table.rs:279-302's architecture for the
    * sparse leg). Contributions fold in ascending-dim order, the exact
    * sorted-merge sequence of the `v_sparse_dot` kernel and the base
    * heap's [[SearchSpec.scoreSparse]] — three layouts, one score.
    */
  private case class SparseSidecar(field: String, nBuckets: Int,
                                   insertedAt: Long)

  /** Tombstoned sparse ids with their indexed DIMS (recorded at flag
    * time, so a resurrection knows which buckets to consolidate without
    * a scan). Churn-bounded; reclaimed by mass-consolidation/rebuild.
    */
  @transient private lazy val sparseDead: Map[String, Seq[Int]] =
    ParquetCollectionStore.readIntListFlags(
      new java.io.File(s"$dir/_sparse/dead.txt"))

  // meta line 3 = the build's log position (freshness point)
  @transient private lazy val sparseSidecar: Option[SparseSidecar] =
    ParquetCollectionStore.markerLines(
        new java.io.File(s"$dir/_sparse/meta.txt")).map { lines =>
      SparseSidecar(lines(0), lines(1).toInt, ParquetCollectionStore
        .appliedAt(new java.io.File(s"$dir/_sparse"), lines, 2))
    }

  private def sparseServe(c: String, spec: SearchSpec, withPayload: Boolean,
                          vectorFields: Seq[String],
                          pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    spec.sparseIndices.flatMap { qi =>
      sparseSidecar
        .filter(sc => sc.field == spec.field && pfilter.isEmpty)
        .flatMap { sc =>
          tailSince(sc.insertedAt).map { tail => (sc, tail) }
        }
        .map { case (sc, tail) =>
          sparseTailRescored.addAndGet(tail.added.size): Unit
          val qv = spec.query
          val qPos = qi.zipWithIndex.toMap
          val buckets = qi.map(d => ((d % sc.nBuckets) + sc.nBuckets) %
            sc.nBuckets).distinct
          // per-id matched postings from ONLY the query dims' buckets;
          // tombstoned ghosts never accumulate (the flag IS their mask)
          val acc = scala.collection.mutable.HashMap
            .empty[String, scala.collection.mutable.ArrayBuffer[(Int, Double)]]
          buckets.foreach { b =>
            val sub = new java.io.File(s"$dir/_sparse/points/db=$b")
            Option(sub.listFiles()).getOrElse(Array.empty)
              .filter(f => f.isFile && f.getName.endsWith(".parquet"))
              .foreach { f =>
                sparseFilesOpened.incrementAndGet()
                ParquetLog.readPostingRows(f.getAbsolutePath).foreach {
                  case (id, dim, v) =>
                    if (!sparseDead.contains(id)) qPos.get(dim).foreach { j =>
                      acc.getOrElseUpdate(id,
                        scala.collection.mutable.ArrayBuffer.empty) +=
                        ((dim, v * qv(j)))
                    }
                }
              }
          }
          // exact dot: ascending-dim fold per candidate, then rank
          val scored = acc.iterator.map { case (id, contribs) =>
            val sorted = contribs.sortBy(_._1)
            var s = 0.0
            sorted.foreach { case (_, cv) => s += cv }
            (id, s)
          }.filter { case (_, s) => spec.passes(s) }.toSeq
          // window widened by the masked-id count (freshness overlay:
          // masked postings can hold at most that many top slots)
          val window = spec.k + spec.offset + tail.masked.size
          val top = scored.sortWith { case ((ia, sa), (ib, sb)) =>
            if (sa != sb) sa > sb else SparkStringOrder.gt(ib, ia)
          }.take(window).filterNot { case (id, _) => tail.masked(id) }
          // fetch the winners' requested pieces from the primary files
          val ids = top.map(_._1).toSet
          val pts = queryPoints(c, 0L, pointCount(c), withPayload,
            vectorFields, None, idFilter = Some(ids))
            .map(p => p.id -> p).toMap
          mergeBest(spec, top.flatMap { case (id, s) =>
            pts.get(id).map(p => (p, s)) } ++
            tailScored(tail, spec, withPayload, vectorFields, pfilter))
        }
    }

  private def ivfServe(c: String, spec: SearchSpec, withPayload: Boolean,
                       vectorFields: Seq[String],
                       pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    ivfSidecar.filter(sc => sc.field == spec.field &&
      spec.multiQuery.isEmpty).flatMap { sc =>
      tailSince(sc.insertedAt).map { tail =>
      ivfTailRescored.addAndGet(tail.added.size): Unit
      val probed = sc.centroidStore.searchPoints(collection,
        SearchSpec(spec.field, spec.query, "euclid", ivfNprobe),
        withPayload = false, vectorFields = Nil)
      // the page window (offset + k) per cluster, offset applied after
      // the merge — same pagination semantics as the base heap. Widened
      // by the masked-id count AND the tombstone count: masked/dead rows
      // can occupy at most that many slots of a cluster's page, so the
      // widening guarantees enough live survivors for an exact
      // post-mask page.
      val window = spec.copy(
        k = spec.k + spec.offset + tail.masked.size + ivfDeadIds.size,
        offset = 0)
      val clusters = probed.map { case (cent, _) =>
        java.lang.Long.parseLong(cent.id).toString
      }
      // the QUANTIZED candidate tier, when the codes sidecar exists and
      // the store was opened with a candidate margin: approximate-int8
      // candidates from the ~4x-smaller codes files, exact rerank reads
      // only the probed clusters for the winners. Restricted to the
      // metric the int8 domain approximates (dot) and to a mask-free
      // tail (masked rows would erode the candidate margin) — anything
      // else serves full-precision probed. A payload filter composes:
      // conditions evaluate at the rerank fetch (codes files carry no
      // payload), so the candidate cut happens PRE-filter — a selective
      // filter could starve a page cut at candidateK ~ k. The quantized
      // arm therefore requires candidateK to COVER the probed clusters'
      // row count when a filter rides the query (the cut then keeps
      // every probed row, so the rerank sees exactly what the exact
      // filtered path sees); a smaller margin falls through to the exact
      // full-precision filtered serve.
      val quantizedMargin =
        if (pfilter.isEmpty) ivfCandidateK >= window.k
        else ivfCandidateK >= clusters.map(v =>
          clusterStoreFor(v).map(_.pointCount(c)).getOrElse(0L)).sum
      val merged =
        if (tail.masked.isEmpty && quantizedMargin &&
            spec.metric == "dot" &&
            new java.io.File(s"$dir/_ivf/codes").isDirectory)
          quantizedClusterSearch(c, window, withPayload, vectorFields,
            clusters, pfilter)
        else clusters.flatMap(v => clusterStoreFor(v).toSeq.flatMap(
          _.searchPointsFiltered(c, window, withPayload, vectorFields,
            pfilter)))
      // tombstoned ghosts never rank (an absorbed delete is not in the
      // tail anymore — the flag IS its mask)
      val fresh = merged.filterNot { case (p, _) =>
          tail.masked(p.id) || ivfDeadIds(p.id) } ++
        tailScored(tail, spec, withPayload, vectorFields, pfilter)
      mergeBest(spec, fresh)
      }
    }

  /** Per-vector symmetric int8 quantization of the query — the SAME
    * arithmetic as the engine kernel ([[graft.functions.QuantKernel]]:
    * scale = float32(absMax/127), HALF_UP rounding), so store-served
    * candidates rank exactly like [[graft.ops.Ann.searchIvfStoredQuantized]]'s.
    */
  private def quantizeQuery(q: Array[Double]): (Array[Byte], Float) = {
    var absMax = 0.0
    var i = 0
    while (i < q.length) {
      val v = math.abs(q(i)); if (v > absMax) absMax = v; i += 1
    }
    val scaleF = (absMax / 127.0).toFloat
    val codes = new Array[Byte](q.length)
    if (scaleF > 0f) {
      i = 0
      while (i < q.length) {
        val v = q(i) / scaleF.toDouble
        codes(i) = (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toByte
        i += 1
      }
    }
    (codes, scaleF)
  }

  /** Candidate stage over the int8 codes partitions of the probed
    * clusters (bytes read = nprobe/nlist of the corpus / ~4), then an
    * exact rerank that fetches ONLY the candidate ids from the probed
    * cluster partitions. With `ivfCandidateK` comfortably above the page
    * window (the quantized-search margin argument) the result equals the
    * full-precision probed serve row for row.
    */
  private def quantizedClusterSearch(c: String, window: SearchSpec,
                                     withPayload: Boolean,
                                     vectorFields: Seq[String],
                                     clusters: Seq[String],
                                     pfilter: PayloadFilter = PayloadFilter.Empty): Seq[(Point, Double)] = {
    val (qc, qs) = quantizeQuery(window.query)
    val scored = clusters.flatMap { v =>
      val sub = new java.io.File(s"$dir/_ivf/codes/cluster=$v")
      Option(sub.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .flatMap { f =>
          codesFilesOpened.incrementAndGet()
          ParquetLog.readCodeRows(f.getAbsolutePath)
        }
        // tombstoned ghosts must not erode the candidate margin
        .filter { case (id, _, _) => !ivfDeadIds(id) }
        .map { case (id, codes, scale) =>
          var s = 0L
          val n = math.min(codes.length, qc.length)
          var i = 0
          while (i < n) { s += codes(i) * qc(i); i += 1 }
          (v, id, s.toDouble * scale.toDouble * qs.toDouble)
        }
    }
    val cands = scored.sortWith { case ((_, ia, sa), (_, ib, sb)) =>
      if (sa != sb) sa > sb else SparkStringOrder.gt(ib, ia)
    }.take(ivfCandidateK)
    val fetchFields = (vectorFields :+ window.field).distinct
    cands.groupBy(_._1).toSeq.flatMap { case (v, rows) =>
      val ids = rows.map(_._2).toSet
      clusterStoreFor(v).toSeq.flatMap { sub =>
        // the rerank fetch evaluates the payload conditions (the codes
        // files carry no payload): non-matching candidates drop here,
        // BEFORE ranking — WHERE-before-ORDER semantics
        sub.queryPointsFiltered(c, 0L, sub.pointCount(c), withPayload,
            fetchFields, None, idFilter = Some(ids), pfilter = pfilter)
          .flatMap { p =>
            p.dense.get(window.field)
              .flatMap(vv => SearchSpec.score(window.metric, vv, window.query))
              .filter(window.passes)
              .map(s => (FetchSpec.narrowed(p, vectorFields), s))
          }
      }
    }
  }

  /** Best-first merge of per-partition search pages: raw-score ranking,
    * id-ascending tiebreak (the base heap's ordering), then the page
    * window (drop offset, take k).
    */
  private def mergeBest(spec: SearchSpec,
                        merged: Seq[(Point, Double)]): Seq[(Point, Double)] = {
    val desc = SearchSpec.descending(spec.metric)
    merged.sortWith { case ((pa, sa), (pb, sb)) =>
      if (sa != sb) { if (desc) sa > sb else sa < sb }
      else SparkStringOrder.gt(pb.id, pa.id)
    }.drop(spec.offset).take(spec.k)
  }

  // ------------------------------------------- bulk-maintenance arm --

  /** Maintenance batches routed to an offline reseal by the bulk arm
    * (specs — proves a corpus-sized trickle seals instead of absorbing).
    */
  @transient lazy val bulkReseals = new AtomicLong(0L)

  /** Partition consolidations forced by the per-partition HOTSPOT dial
    * alone — churn concentrated in one segment/cluster consolidates
    * that partition before the corpus-fraction dial could trip (specs).
    */
  @transient lazy val hotspotConsolidations = new AtomicLong(0L)

  /** The BULK arm of online maintenance (see
    * [[ParquetCollectionStore.bulkMaintainFraction]]): when this upsert
    * batch plus the volume absorbed since the last seal rivals the
    * corpus, reseal the sidecar from the COW-current primaries (they
    * already hold the post-batch state) instead of absorbing
    * per-touched-partition. Returns true when resealed — the caller
    * skips its incremental path, the fresh build covers the batch.
    * Needs a live SparkSession for the rebuild; with none, absorb
    * incrementally (correct either way — this arm is a cost rule).
    */
  private def maybeBulkReseal(sidecarDir: java.io.File, batch: Int)
                             (reseal: org.apache.spark.sql.SparkSession => Unit): Boolean = {
    val frac = ParquetCollectionStore.bulkMaintainFractionDial
    if (frac <= 0 || batch <= 0) return false
    val absorbed = ParquetCollectionStore.readWatermark(
      new java.io.File(sidecarDir, "absorbed.txt")).getOrElse(0L)
    val vol = (absorbed + batch).toDouble
    if (vol < frac * math.max(pointCount(collection), 1L).toDouble) false
    else ParquetCollectionStore.liveSpark.exists { sp =>
      reseal(sp)
      bulkReseals.incrementAndGet(): Unit
      true
    }
  }

  // ----------------------------------------------------- index freshness --

  /** Mutations applied since a sidecar was built, folded to FINAL state
    * per id: `masked` = every id the tail touched (its sidecar copy, if
    * any, is outdated — deletes AND old versions of updates), `added` =
    * the current point of each id whose last tail entry is an upsert.
    * Bounded by churn since the last index build — qdrant's
    * unindexed-segment discipline: new data is searchable immediately,
    * and the optimizer (the offline sidecar rebuild) re-absorbs the
    * tail into the index, resetting it to empty.
    */
  private case class LogTail(masked: Set[String], added: Seq[Point]) {
    /** No mutations since build (masked ⊇ added ids, so one check). */
    def isEmpty: Boolean = masked.isEmpty
  }

  private val FreshTail = LogTail(Set.empty, Nil)

  @transient private lazy val tailCache =
    scala.collection.concurrent.TrieMap.empty[(Long, Long), LogTail]

  /** The log tail a sidecar built at log position `builtAt` must
    * overlay to serve the CURRENT state. None = the tail is gone
    * (compaction dropped positions below `builtAt`): the sidecar cannot
    * serve exactly anymore and the caller falls back to the primary
    * files, which COW keeps current. `builtAt < 0` = legacy meta without
    * a build position: served as-is (the pre-freshness contract).
    * Replay cost is O(tail) — segment files position by name — and the
    * folded tail is cached per (builtAt, head).
    */
  private def tailSince(builtAt: Long): Option[LogTail] = {
    if (builtAt < 0 || !logEnabled) return Some(FreshTail)
    val head = ParquetLog.head(logDir)
    if (head <= builtAt) Some(FreshTail)
    else if (ParquetLog.base(logDir) > builtAt) None
    else Some(tailCache.getOrElseUpdate((builtAt, head), {
      val last = scala.collection.mutable.LinkedHashMap.empty[String, LogEntry]
      logEntries(collection, builtAt, head).foreach(e => last.put(e.point.id, e))
      LogTail(last.keysIterator.toSet,
        last.valuesIterator.filter(_.op == LogOps.Upsert).map(_.point).toSeq)
    }))
  }

  /** Tail points that match the filter, scored under the spec and shaped
    * to the fetch contract — the in-memory leg merged into every
    * sidecar-served page. No IO: upsert log entries carry full points.
    */
  private def tailScored(tail: LogTail, spec: SearchSpec,
                         withPayload: Boolean, vectorFields: Seq[String],
                         pfilter: PayloadFilter): Seq[(Point, Double)] = {
    if (tail.added.isEmpty) return Nil
    val scoreOf: Point => Option[Double] = spec.multiQuery match {
      case Some(qm) => p => p.multi.get(spec.field)
        .map(dm => SearchSpec.scoreMulti(dm, qm))
      case None => spec.sparseIndices match {
        case Some(qi) => p => p.sparse.get(spec.field).flatMap {
          case (di, dv) => SearchSpec.scoreSparse(di, dv, qi, spec.query)
        }
        case None => p => p.dense.get(spec.field).flatMap(v =>
          SearchSpec.score(spec.metric, v, spec.query))
      }
    }
    tail.added.filter(pfilter.matches).flatMap { p =>
      scoreOf(p).filter(spec.passes).map { s =>
        (FetchSpec.narrowed(p, vectorFields)
          .copy(payload = if (withPayload) p.payload else None), s)
      }
    }
  }

  // ------------------------------------------------------- payload index --

  /** The payload-index sidecar, when
    * [[ParquetCollectionStore.writePayloadSidecar]] laid one down under
    * `dir/_pidx`: the corpus value-partitioned by ONE indexed payload
    * key (`kind` = `int` | `keyword`, the engine-side
    * [[graft.ops.Planner]] dichotomy). A filtered search/count whose
    * `must` list carries a servable condition on that key reads ONLY the
    * matching value partitions — the backend's payload index making the
    * filter the ACCESS PATH, qdrant's pre-filter arm at the store seam.
    *
    * Servable ops are exactly those that match only via a PRESENT scalar
    * value (`eq`/`gt`/`gte`/`lt`/`lte`/`match_any`): rows whose key is
    * absent/null/non-scalar are excluded from the sidecar AND can never
    * match such a condition (decisive semantics), so partition pruning
    * is sound. Ops that can match absent keys (`empty`) are not
    * servable. Candidate partitions are decided by evaluating THE SAME
    * [[PayloadCondition.matchesValue]] the row path runs, against each
    * partition's typed value — one semantics, two layouts.
    */
  private case class PayloadSidecar(key: String, kind: String,
                                    covered: Set[String], base: String,
                                    insertedAt: Long) {
    private val root = s"$base/points"

    /** Tombstoned rows, value → ids (the ANN families' deleted-flags
      * model on the value partitions: a delete records `(value, id)`
      * so counts and facets stay footer-exact — per-partition dead
      * counts are known without reading a row). Churn-bounded;
      * consolidations and rebuilds reclaim.
      */
    lazy val dead: Map[String, Set[String]] =
      ParquetCollectionStore.readValueIdFlags(
        new java.io.File(s"$base/dead.txt"))

    lazy val deadIds: Set[String] = dead.valuesIterator.flatten.toSet

    def deadCountOf(v: String): Long =
      dead.get(v).map(_.size.toLong).getOrElse(0L)

    /** Footer rows MINUS tombstones — the count a serve may publish. */
    def liveRowsOf(v: String): Long = rowsOf(v) - deadCountOf(v)

    /** Partition dir suffix per decoded RAW-JSON value. The raw form is
      * TYPE-TAGGED (`"3"` is a JSON string, `3` a number, `true` a bool
      * — [[ParquetCollectionStore.writePayloadSidecar]] writes it), so
      * the index is type-COMPLETE over scalar values of the key: every
      * row a servable condition can match lives in some partition, and
      * [[valuesMatching]]'s typed evaluation is a sound pruning rule.
      * Spark percent-escapes special characters in partition dirs (the
      * quote of a string value included) — the listing keeps the
      * escaped name for path lookups. `__HIVE_DEFAULT_PARTITION__`
      * (nulls) never appears because the writer drops null values.
      */
    lazy val valueDirs: Map[String, String] =
      Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("value="))
        .map(f => unescape(f.getName.substring("value=".length)) -> f.getName)
        .filter(_._1 != "__HIVE_DEFAULT_PARTITION__").toMap

    lazy val values: Seq[String] = valueDirs.keys.toSeq.sorted

    private def unescape(s: String): String = {
      val sb = new StringBuilder; var i = 0
      while (i < s.length) {
        val ch = s.charAt(i)
        if (ch == '%' && i + 2 < s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(ch); i += 1 }
      }
      sb.toString
    }

    private val stores =
      scala.collection.concurrent.TrieMap.empty[String, ParquetCollectionStore]

    def storeFor(v: String): Option[ParquetCollectionStore] =
      valueDirs.get(v).flatMap { dn =>
        val sub = new java.io.File(s"$root/$dn")
        if (!sub.isDirectory) None
        else Some(stores.getOrElseUpdate(v, new ParquetCollectionStore(
          sub.getAbsolutePath, collection, descriptor)))
      }

    def rowsOf(v: String): Long =
      storeFor(v).map(_.pointCount(collection)).getOrElse(0L)

    def servable(cond: PayloadCondition): Boolean =
      cond.key == key && PayloadSidecarOps(cond.op)

    /** Candidate partitions: evaluate THE SAME typed
      * [[PayloadCondition.matchesValue]] the row path runs, against each
      * partition's raw-JSON value parsed to its true type — one
      * semantics, two layouts. A numeric probe selects number
      * partitions, never the numeric-LOOKING string `"3"`, and vice
      * versa (the type-coercion hole the raw-tagged layout closes).
      */
    def valuesMatching(cond: PayloadCondition): Seq[String] =
      values.filter(v => cond.matchesValue(Some(jval(v))))

    private def jval(v: String): org.json4s.JValue =
      // raw JSON scalar -> typed value; a legacy unquoted keyword dir
      // (pre-raw layouts) fails the parse and reads as the string it is
      org.json4s.jackson.JsonMethods.parseOpt(v)
        .getOrElse(org.json4s.JString(v))

    /** Value partitions whose DATA was read (footer-only selectivity
      * counts — `rowsOf` — don't qualify: the dial may weigh every
      * candidate partition's row count and still reject the arm without
      * decoding a byte).
      */
    def valuesTouched: Seq[String] = stores.toSeq
      .filter(_._2.filesOpened.get() > 0).map(_._1).sorted

    /** The FACET histogram from footers alone: each value partition's
      * row count under the facet surface's rendering
      * ([[FacetValue.render]] of the type-tagged raw value — the same
      * string the row path produces, so index-served and payload-pass
      * counts merge on identical keys; two raw forms rendering equal,
      * the string "3" and the number 3, SUM). No corpus bytes decode.
      */
    def facetHistogram: Seq[(String, Long)] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      values.foreach { raw =>
        FacetValue.render(jval(raw)).foreach { r =>
          m.update(r, m.getOrElse(r, 0L) + liveRowsOf(raw))
        }
      }
      m.toSeq.filter(_._2 > 0L)
    }
  }

  /** Ops an index partition-prunes soundly: each matches ONLY via a
    * present scalar value, and [[PayloadCondition.matchesValue]] decides
    * per partition value exactly as it decides per row. The datetime
    * bounds qualify — they match only parseable STRING values, which the
    * type-tagged partitions carry verbatim (qdrant's `datetime` payload
    * index kind at the store seam).
    */
  private val PayloadSidecarOps: Set[String] =
    Set("eq", "gt", "gte", "lt", "lte", "match_any",
      "dt_gt", "dt_gte", "dt_lt", "dt_lte")

  private def readSidecarMeta(base: String): Option[PayloadSidecar] =
    ParquetCollectionStore.markerLines(new java.io.File(s"$base/meta.txt"))
      .map { lines =>
        // line 3 = the covered vector COLUMNS (may be empty: a count-only
        // index); a legacy 2-line meta reads as non-covering — the
        // pre-filter search arm skips it rather than serving short
        // results. Line 4 = the build's log position (freshness point).
        val covered =
          if (lines.length > 2 && lines(2).nonEmpty) lines(2).split(",").toSet
          else Set.empty[String]
        PayloadSidecar(lines(0), lines(1), covered, base,
          ParquetCollectionStore.appliedAt(new java.io.File(base), lines, 3))
      }

  /** ALL payload-index sidecars: qdrant maintains one payload index PER
    * indexed key, and so does the store — `_pidx/k_<key>/` per key
    * ([[ParquetCollectionStore.writePayloadSidecar]]'s layout), plus the
    * legacy single-index root layout (`_pidx/meta.txt`) read as-is.
    * A filter touching several indexed keys becomes a planning choice:
    * every servable arm's cardinality is estimated from footers and the
    * cheapest becomes the access path ([[prefilterServe]]).
    */
  @transient private lazy val payloadSidecars: Seq[PayloadSidecar] = {
    val root = new java.io.File(s"$dir/_pidx")
    val keyed = Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("k_"))
      .flatMap(f => readSidecarMeta(f.getAbsolutePath))
    (keyed ++ readSidecarMeta(s"$dir/_pidx")).sortBy(_.key)
  }

  /** Indexed payload keys, for specs/probes. */
  def payloadIndexKeys: Seq[String] = payloadSidecars.map(_.key)

  /** Value partitions read since JVM start (all indexes), for
    * specs/probes.
    */
  def payloadValuesTouched: Seq[String] =
    payloadSidecars.flatMap(_.valuesTouched).distinct.sorted

  /** Value partitions of ONE key's index read since JVM start. */
  def payloadValuesTouched(key: String): Seq[String] =
    payloadSidecars.filter(_.key == key).flatMap(_.valuesTouched).sorted

  /** FACETS from the payload index when `key` is indexed and the
    * since-build tail is clean: the histogram is the value partitions'
    * FOOTER row counts under the shared facet rendering — zero corpus
    * bytes decode, cost O(distinct values) metadata instead of a full
    * payload pass (the backend serves `/points/facet` from its payload
    * index the same way). A dirty tail or unindexed key falls back to
    * the exact payload pass; counts are identical either way (the
    * sidecar holds every row whose key carries a scalar value — exactly
    * the rows the facet surface counts).
    */
  override def facetCounts(c: String, key: String, limit: Int,
                           pfilter: PayloadFilter = PayloadFilter.Empty): Seq[(String, Long)] = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    require(limit > 0, s"facet limit must be positive, got $limit")
    val served =
      if (pfilter.isEmpty) indexedFacetHistogram(key) else None
    served match {
      case Some(hist) =>
        hist.sortWith { case ((v1, n1), (v2, n2)) =>
          if (n1 != n2) n1 > n2 else SparkStringOrder.lt(v1, v2)
        }.take(limit)
      case None => super.facetCounts(c, key, limit, pfilter)
    }
  }

  /** Targeted per-value counts from the same footers (the distributed
    * threshold merge's second pass lands here: a sharded contender
    * check against an indexed parquet member costs metadata only).
    * Filtered facets take the row path — a filter needs the payloads.
    */
  override def facetCountsFor(c: String, key: String,
                              values: Set[String],
                              pfilter: PayloadFilter = PayloadFilter.Empty): Map[String, Long] = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    if (values.isEmpty) return Map.empty
    val served =
      if (pfilter.isEmpty) indexedFacetHistogram(key) else None
    served match {
      case Some(hist) =>
        hist.filter { case (v, _) => values(v) }.toMap
      case None => super.facetCountsFor(c, key, values, pfilter)
    }
  }

  private def indexedFacetHistogram(key: String): Option[Seq[(String, Long)]] =
    payloadSidecars.find(_.key == key).flatMap(sc =>
      tailSince(sc.insertedAt).filter(_.isEmpty).map(_ => sc.facetHistogram))

  /** Serve a FILTERED search from the payload sidecar when a `must`
    * condition is servable AND selective (matched partitions hold at
    * most [[prefilterMaxFraction]] of the corpus — qdrant's
    * `full_scan_threshold` dial): exact brute-force top-k over only the
    * matching value partitions, the FULL filter re-evaluated per point
    * (residual conditions compose; re-checking the indexed one is
    * harmless). Above the dial, fall through to the IVF probe (filter
    * evaluated inside the probed pass — the post-filter arm) or the
    * base full scan.
    */
  /** One candidate access path: an index whose key appears in the `must`
    * list, with the partitions surviving EVERY servable condition on
    * that key (same-key conditions intersect — `label gte 2 AND label
    * lte 4` reads only the overlap) and their footer row total. The
    * residual conditions (other keys, non-servable ops) re-evaluate per
    * point inside the arm.
    */
  private case class IndexArm(sc: PayloadSidecar, dirs: Seq[String],
                              matched: Long, tail: LogTail)

  private def indexArms(pfilter: PayloadFilter): Seq[IndexArm] =
    payloadSidecars.flatMap { sc =>
      val conds = pfilter.must.filter(sc.servable)
      if (conds.isEmpty) None
      // a sidecar whose since-MAINTENANCE tail was compacted away cannot
      // serve the current state — it drops out of the arm set entirely
      else tailSince(sc.insertedAt).map { tail =>
        val dirs = conds.map(sc.valuesMatching(_).toSet).reduce(_ intersect _)
          .toSeq.sorted
        IndexArm(sc, dirs, dirs.map(sc.liveRowsOf).sum, tail)
      }
    }

  private def prefilterServe(c: String, spec: SearchSpec,
                             withPayload: Boolean, vectorFields: Seq[String],
                             pfilter: PayloadFilter): Option[Seq[(Point, Double)]] = {
    // the arm only serves when its sidecar COVERS the queried vector
    // column — a count-only (non-covering) index must not silently
    // return vector-less short results (meta.txt line 3 records this).
    // Several indexed keys in the filter = several arms: the CHEAPEST
    // (fewest footer-estimated matching rows) is the access path, the
    // other conditions apply residually inside it — qdrant's
    // multi-payload-index cardinality planning at the store seam
    val arms = indexArms(pfilter)
      .filter(_.sc.covered.contains(columnOf(spec.field)))
    arms.sortBy(a => (a.matched, a.sc.key)).headOption.flatMap { arm =>
      if (arm.matched > ParquetCollectionStore.prefilterMaxFraction *
          pointCount(collection)) None
      else {
        // freshness overlay: window widened by the masked-id AND
        // tombstone counts, masked/dead rows dropped post-merge,
        // matching tail upserts merged in-memory — exact results while
        // the index is stale
        val window = spec.copy(
          k = spec.k + spec.offset + arm.tail.masked.size +
            arm.sc.deadIds.size, offset = 0)
        val merged = arm.dirs.flatMap(v => arm.sc.storeFor(v).toSeq.flatMap(
          _.searchPointsFiltered(c, window, withPayload, vectorFields,
            pfilter)))
        val fresh = merged.filterNot { case (p, _) =>
            arm.tail.masked(p.id) || arm.sc.deadIds(p.id) } ++
          tailScored(arm.tail, spec, withPayload, vectorFields, pfilter)
        Some(mergeBest(spec, fresh))
      }
    }
  }

  /** Filtered count from the value partitions when a `must` condition is
    * servable — no selectivity dial (a pruned count never reads more
    * than the full walk). When EVERY clause is carried by the partition
    * value (all `must` conditions servable, no `must_not`/`min_should`/
    * id conditions), the count is a FOOTER sum over the matching
    * partitions' intersection — zero corpus bytes decoded, the payload
    * index answering `points/count` the way the in-memory store's value
    * index does. Otherwise the matching partitions are walked with the
    * full filter re-evaluated per point (id-set / keyset conditions
    * composed by the sub-stores).
    */
  override def countMatchingFiltered(c: String,
                                     idFilter: Option[Set[String]],
                                     idLower: Option[String],
                                     pfilter: PayloadFilter): Long = {
    // footer-only when ONE index carries every clause (all `must`
    // conditions on its key, no residuals): the count is a footer sum
    // over the partitions surviving all conditions — zero corpus bytes.
    // Otherwise the cheapest arm's partitions are walked with the full
    // filter re-evaluated per point (residual keys compose; the
    // sub-stores fold id-set/keyset conditions in the same pass).
    val residualFree = idFilter.isEmpty && idLower.isEmpty &&
      pfilter.mustNot.isEmpty && pfilter.minShould.isEmpty
    // counts only serve from indexes with an EMPTY since-build tail: a
    // masked row's OLD payload (needed to adjust the count) is not in
    // the log, so a stale index cannot answer exactly — the fallback
    // full pass over the COW-current primaries can, and does
    val arms = indexArms(pfilter).filter(_.tail.isEmpty)
    val footer = arms.find(a =>
      residualFree && pfilter.must.forall(a.sc.servable))
    footer.map(_.matched).orElse {
      arms.sortBy(a => (a.matched, a.sc.key)).headOption.map { arm =>
        arm.dirs.map { v =>
          arm.sc.storeFor(v).map { st =>
            val walked =
              st.countMatchingFiltered(c, idFilter, idLower, pfilter)
            // tombstoned rows pass the filter (their payload still
            // matches) — subtract exactly those the walk counted
            val dead = arm.sc.dead.getOrElse(v, Set.empty)
            val deadIn = idFilter.fold(dead)(dead intersect _)
            if (deadIn.isEmpty) walked
            else walked -
              st.countMatchingFiltered(c, Some(deadIn), idLower, pfilter)
          }.getOrElse(0L)
        }.sum
      }
    }.orElse(geoCount(idFilter, idLower, pfilter))
      .orElse(textCount(idFilter, idLower, pfilter))
      .getOrElse(super.countMatchingFiltered(c, idFilter, idLower, pfilter))
  }

  // --------------------------------------------------------- geo index --

  /** The geo-cell sidecar, when
    * [[ParquetCollectionStore.writeGeoSidecar]] laid one down under
    * `dir/_gidx`: the corpus partitioned by [[graft.ops.Geo]] Morton
    * cell of ONE payload key's `{lat, lon}` object — qdrant's `geo`
    * payload index kind at the store seam. A filtered search/count
    * whose `must` list carries a geo condition on that key reads ONLY
    * the cells whose grid rectangle intersects the query region
    * ([[graft.ops.Geo.coverCells]]' pinned cover property): the cover is
    * a SUPERSET, so the exact predicate always re-evaluates per point
    * inside the pruned partitions — pruning is an access-path choice,
    * never a semantics change. Rows without a numeric `{lat, lon}`
    * under the key are absent from the sidecar AND can never match a
    * geo condition ([[PayloadCondition.latLonOf]]'s contract), so the
    * pruning is sound.
    */
  /** `insertedAt`: the log position the cell partitions are CURRENT to
    * — advanced by [[geoMaintainer]], reset by a rebuild. `dead`:
    * tombstoned rows, cell -> ids (the pidx flag model on the cell
    * layout — flagged rows never serve or count).
    */
  private case class GeoSidecar(key: String, bits: Int,
                                covered: Set[String],
                                insertedAt: Long = -1L,
                                dead: Map[Long, Set[String]] = Map.empty) {
    private val root = s"$dir/_gidx/points"

    lazy val deadIds: Set[String] = dead.valuesIterator.flatten.toSet

    lazy val cellDirs: Map[Long, String] =
      Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(f => f.getName.substring("cell=".length).toLong -> f.getName)
        .toMap

    private val stores =
      scala.collection.concurrent.TrieMap.empty[Long, ParquetCollectionStore]

    def storeFor(c: Long): Option[ParquetCollectionStore] =
      cellDirs.get(c).map { dn =>
        stores.getOrElseUpdate(c, new ParquetCollectionStore(
          s"$root/$dn", collection, descriptor))
      }

    def rowsOf(c: Long): Long =
      storeFor(c).map(_.pointCount(collection)).getOrElse(0L)

    def servable(cond: PayloadCondition): Boolean =
      cond.key == key && ParquetCollectionStore.GeoSidecarOps(cond.op)

    /** Cells that exist AND intersect the condition's conservative
      * bounding region.
      */
    def cellsMatching(cond: PayloadCondition): Seq[Long] =
      ParquetCollectionStore.geoCover(cond, bits).filter(cellDirs.contains)

    def cellsTouched: Seq[Long] = stores.toSeq
      .filter(_._2.filesOpened.get() > 0).map(_._1).sorted
  }

  @transient private lazy val geoSidecar: Option[GeoSidecar] =
    ParquetCollectionStore.markerLines(
        new java.io.File(s"$dir/_gidx/meta.txt")).map { lines =>
      val covered =
        if (lines.length > 2 && lines(2).nonEmpty) lines(2).split(",").toSet
        else Set.empty[String]
      val dead = ParquetCollectionStore.readValueIdFlags(
          new java.io.File(s"$dir/_gidx/dead.txt"))
        .map { case (c, ids) => c.toLong -> ids }
      GeoSidecar(lines(0), lines(1).toInt, covered,
        ParquetCollectionStore.appliedAt(new java.io.File(s"$dir/_gidx"),
          lines, 3), dead)
    }

  /** Geo cells whose DATA was read since JVM start, for specs/probes. */
  def geoCellsTouched: Seq[Long] =
    geoSidecar.map(_.cellsTouched).getOrElse(Nil)

  /** Serve a geo-filtered search from the cell partitions when a `must`
    * condition is a servable geo condition AND its cover is selective
    * (same 20% dial as the payload-index arm, estimated from footers).
    * The full filter — the geo predicate included — re-evaluates per
    * point inside the pruned read, so the cover's overshoot costs IO,
    * never correctness.
    */
  private def geoServe(c: String, spec: SearchSpec,
                       withPayload: Boolean, vectorFields: Seq[String],
                       pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    geoSidecar
      .filter(_.covered.contains(columnOf(spec.field)))
      .flatMap { sc =>
        pfilter.must.find(sc.servable).flatMap { cond =>
          tailSince(sc.insertedAt).flatMap { tail =>
            val cells = sc.cellsMatching(cond)
            val matched = cells.map(sc.rowsOf).sum
            if (matched > ParquetCollectionStore.prefilterMaxFraction *
                pointCount(collection)) None
            else {
              // window widened by tombstones too (flagged rows may
              // occupy page slots before the mask drops them)
              val window = spec.copy(
                k = spec.k + spec.offset + tail.masked.size +
                  sc.deadIds.size, offset = 0)
              val merged = cells.flatMap(v => sc.storeFor(v).toSeq.flatMap(
                _.searchPointsFiltered(c, window, withPayload, vectorFields,
                  pfilter)))
              val fresh =
                merged.filterNot { case (p, _) =>
                  tail.masked(p.id) || sc.deadIds(p.id) } ++
                  tailScored(tail, spec, withPayload, vectorFields, pfilter)
              Some(mergeBest(spec, fresh))
            }
          }
        }
      }

  /** Geo-pruned filtered count: the cover partitions walked with the
    * FULL filter (never footer-only — the cover is a superset by
    * construction). Only with an empty overlay tail; tombstoned rows
    * pass the filter (their payload still matches) — a second walk
    * restricted to the cell's flagged ids subtracts exactly those.
    */
  private def geoCount(idFilter: Option[Set[String]], idLower: Option[String],
                       pfilter: PayloadFilter): Option[Long] =
    geoSidecar.flatMap { sc =>
      pfilter.must.find(sc.servable).flatMap { cond =>
        tailSince(sc.insertedAt).filter(_.isEmpty).map { _ =>
          sc.cellsMatching(cond).map { v =>
            sc.storeFor(v).map { st =>
              val walked = st.countMatchingFiltered(collection, idFilter,
                idLower, pfilter)
              val cellDead = sc.dead.getOrElse(v, Set.empty)
              val deadMatched =
                if (cellDead.isEmpty) 0L
                else st.countMatchingFiltered(collection,
                  Some(idFilter.fold(cellDead)(cellDead intersect _)),
                  idLower, pfilter)
              walked - deadMatched
            }.getOrElse(0L)
          }.sum
        }
      }
    }

  // -------------------------------------------------------- text index --

  /** Token-postings files read by the text-pruned serve. */
  @transient lazy val textFilesOpened = new AtomicLong(0L)

  /** The full-text sidecar, when
    * [[ParquetCollectionStore.writeTextSidecar]] laid one down under
    * `dir/_tidx`: one (id, token) posting per DISTINCT case-folded
    * whitespace token of payload key `key`'s string value, partitioned
    * by token hash bucket — qdrant's `text` payload index kind at the
    * store seam. A `match_text` condition's candidates are the
    * INTERSECTION of its tokens' posting lists (exactly the row path's
    * all-tokens-present rule, so for match_text the candidate set IS the
    * matching set); `phrase` shares the candidates (a phrase's rows are
    * a subset of its bag-of-tokens rows) and the consecutive-sequence
    * check re-evaluates per point. Candidates fetch from the PRIMARY
    * files pruned by id statistics ([[skippableByIds]]): the ranged
    * layout makes a k-id fetch read only the row groups that can hold
    * them.
    */
  /** `insertedAt`: the log position the postings are CURRENT to —
    * advanced by [[textMaintainer]], reset by a rebuild. `dead`:
    * tombstoned ids (the ANN families' deleted-flags model — flagged
    * postings never surface; the flag records the doc's token BUCKETS
    * so a resurrection consolidates exactly those). `stats`: the LIVE
    * (nDocs, totalTokens) — the maintenance-adjusted override in
    * `_tidx/stats.txt` when present, else the build's meta line.
    */
  private case class TextSidecar(key: String, nBuckets: Int,
                                 stats: Option[(Long, Long)] = None,
                                 insertedAt: Long = -1L,
                                 dead: Set[String] = Set.empty) {
    private val root = s"$dir/_tidx/points"

    /** (id, tf, dl) postings of the query tokens, read from ONLY their
      * buckets — the RANKED serve's input (new-format sidecars only:
      * callers gate on [[stats]], which the tf/dl layout ships with).
      * Tombstoned ids never surface (the flag IS their mask).
      */
    def postingStatsOf(tokens: Seq[String]): Map[String, Seq[(String, Long, Long)]] = {
      val want = tokens.toSet
      val acc = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[(String, Long, Long)]]
      want.map(t => ParquetCollectionStore.tokenBucket(t, nBuckets))
        .toSeq.distinct.foreach { b =>
          val sub = new java.io.File(s"$root/tb=$b")
          Option(sub.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .foreach { f =>
              textFilesOpened.incrementAndGet()
              ParquetLog.readTextPostingRows(f.getAbsolutePath).foreach {
                case (id, tok, tf, dl) => if (want(tok) && !dead(id))
                  acc.getOrElseUpdate(tok,
                    scala.collection.mutable.ArrayBuffer.empty) += ((id, tf, dl))
              }
            }
        }
      acc.view.mapValues(_.toSeq).toMap
    }

    def servable(cond: PayloadCondition): Boolean =
      cond.key == key && (cond.op == "match_text" || cond.op == "phrase") &&
        cond.textTokens.nonEmpty

    /** token -> posting ids, read from ONLY the query tokens' buckets
      * (one pass per bucket, several tokens served per pass).
      */
    def postingsOf(tokens: Seq[String]): Map[String, Set[String]] = {
      val want = tokens.toSet
      val acc = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.HashSet[String]]
      want.map(t => ParquetCollectionStore.tokenBucket(t, nBuckets))
        .toSeq.distinct.foreach { b =>
          val sub = new java.io.File(s"$root/tb=$b")
          Option(sub.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .foreach { f =>
              textFilesOpened.incrementAndGet()
              ParquetLog.readTokenRows(f.getAbsolutePath).foreach {
                case (id, tok) => if (want(tok) && !dead(id))
                  acc.getOrElseUpdate(tok,
                    scala.collection.mutable.HashSet.empty) += id
              }
            }
        }
      acc.view.mapValues(_.toSet).toMap
    }

    /** All-token intersection — empty the moment any token is unknown. */
    def candidates(cond: PayloadCondition): Set[String] = {
      val post = postingsOf(cond.textTokens)
      cond.textTokens.map(t => post.getOrElse(t, Set.empty[String]))
        .reduce(_ intersect _)
    }
  }

  // meta line 4 "<nDocs> <totalTokens>" = the tf/dl posting layout
  // with corpus stats — the RANKED serve's requirement (absent on legacy
  // match-only sidecars, which then serve matches but not ranks)
  @transient private lazy val textSidecar: Option[TextSidecar] =
    ParquetCollectionStore.markerLines(
        new java.io.File(s"$dir/_tidx/meta.txt")).map { lines =>
      TextSidecar(lines(0), lines(1).toInt,
        ParquetCollectionStore.textStats(dir, lines),
        ParquetCollectionStore.appliedAt(new java.io.File(s"$dir/_tidx"),
          lines, 2),
        ParquetCollectionStore.readIntListFlags(
          new java.io.File(s"$dir/_tidx/dead.txt")).keySet)
    }

  /** BM25 partials served from the text sidecar when it carries the
    * tf/dl posting layout, is keyed on `key`, and the since-build tail
    * is clean: reads ONLY the query terms' token buckets (df =
    * posting-list length, per-doc tf/dl denormalized in the rows, N/Σdl
    * from the meta) — nothing else opens, primaries stay closed. A
    * dirty tail or legacy sidecar falls back to the exact one-pass
    * default over the COW-current primaries. [[searchTextRanked]]
    * inherits the trait's partials -> rank composition, so the ranked
    * serve (local, wire-fronted, or as one SHARD of a merged rank) pays
    * only the pruned bucket reads.
    */
  override def textRankPartials(c: String, key: String,
                                terms: Seq[String]): TextRankPartials = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    val served = textSidecar
      .filter(sc => sc.key == key && sc.stats.isDefined)
      .flatMap { sc =>
        tailSince(sc.insertedAt).filter(_.isEmpty).map { _ =>
          val (n, totalLen) = sc.stats.get
          val post = sc.postingStatsOf(terms)
          val nt = terms.length
          val dfs = new Array[Long](nt)
          val tfs = scala.collection.mutable.HashMap.empty[String, Array[Long]]
          val dls = scala.collection.mutable.HashMap.empty[String, Long]
          terms.zipWithIndex.foreach { case (t, i) =>
            post.getOrElse(t, Nil).foreach { case (id, tf, dl) =>
              dfs(i) += 1L
              tfs.getOrElseUpdate(id, new Array[Long](nt))(i) = tf
              dls.update(id, dl)
            }
          }
          val docs = tfs.toSeq.map { case (id, tfArr) =>
            (id, tfArr, dls(id))
          }
          TextRankPartials(n, totalLen, dfs, docs)
        }
      }
    served.getOrElse(super.textRankPartials(c, key, terms))
  }

  /** Serve a text-filtered search from the postings: candidate ids from
    * the token intersection, an id-stats-pruned fetch of ONLY those rows
    * from the primaries, the FULL filter re-evaluated per point (phrase
    * order, other conditions), ranked under the spec. Selectivity dial
    * as usual.
    */
  private def textServe(c: String, spec: SearchSpec,
                        withPayload: Boolean, vectorFields: Seq[String],
                        pfilter: PayloadFilter): Option[Seq[(Point, Double)]] =
    textSidecar.filter(_ => spec.sparseIndices.isEmpty &&
        spec.multiQuery.isEmpty).flatMap { sc =>
      pfilter.must.find(sc.servable).flatMap { cond =>
        tailSince(sc.insertedAt).flatMap { tail =>
          val cands = sc.candidates(cond)
          if (cands.size > ParquetCollectionStore.prefilterMaxFraction *
              pointCount(collection)) None
          else {
            val fetchFields = (vectorFields :+ spec.field).distinct
            val scored = queryPointsFiltered(c, 0L, pointCount(c),
                withPayload = true, fetchFields, None,
                idFilter = Some(cands -- tail.masked), pfilter = pfilter)
              .flatMap { p =>
                p.dense.get(spec.field)
                  .flatMap(v => SearchSpec.score(spec.metric, v, spec.query))
                  .filter(spec.passes)
                  .map(s => (FetchSpec.narrowed(p, vectorFields)
                    .copy(payload = if (withPayload) p.payload else None), s))
              }.toSeq
            Some(mergeBest(spec, scored ++
              tailScored(tail, spec, withPayload, vectorFields, pfilter)))
          }
        }
      }
    }

  /** Text-pruned filtered count: the candidate intersection fetched
    * payload-only with the full filter (phrase/residuals re-checked).
    * Only with an empty since-build tail.
    */
  private def textCount(idFilter: Option[Set[String]], idLower: Option[String],
                        pfilter: PayloadFilter): Option[Long] =
    textSidecar.flatMap { sc =>
      pfilter.must.find(sc.servable).flatMap { cond =>
        tailSince(sc.insertedAt).filter(_.isEmpty).map { _ =>
          val cands = sc.candidates(cond)
          val narrowed = idFilter.fold(cands)(cands intersect _)
          queryPointsFiltered(collection, 0L, pointCount(collection),
            withPayload = false, Nil, None, idFilter = Some(narrowed),
            idLower = idLower, pfilter = pfilter).size.toLong
        }
      }
    }

  // ------------------------------------------------------- change log --

  private def logDir = new java.io.File(s"$dir/_log")
  private def logEnabled: Boolean = logDir.isDirectory

  /** Field -> physical-column codec for segment/primary encode+decode
    * (all three vector kinds).
    */
  private def rowCodec: ParquetLog.RowCodec =
    ParquetLog.RowCodec.fromDescriptor(descriptor)

  override def logStart(c: String): Long = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    if (!logEnabled) super.logStart(c) else ParquetLog.base(logDir)
  }

  override def logSize(c: String): Long = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    if (!logEnabled) super.logSize(c) else ParquetLog.head(logDir)
  }

  /** Replay [from, until): segment files position themselves by NAME, so
    * a tail read opens only tail segments — replay cost is O(tail), flat
    * however long the churn history grows (the ScaleProbe `pqlog` row).
    */
  override def logEntries(c: String, from: Long, until: Long): Iterator[LogEntry] = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    if (!logEnabled) super.logEntries(c, from, until)
    else {
      val b = ParquetLog.base(logDir)
      if (from < b)
        throw new IllegalStateException(
          s"log positions [$from, $b) of '$collection' were compacted away; " +
            s"replay must start at $b or from a fresh snapshot")
      val codec = rowCodec
      ParquetLog.segments(logDir).iterator
        .filter(m => m.end > from && m.start < until)
        .flatMap(m => ParquetLog.readSegment(m.path, from, until, codec))
    }
  }

  private def requireLog(what: String): Unit = {
    require(logEnabled,
      s"$what on a parquet store requires the _log changelog sidecar " +
        s"(seal with write(withLog = true) or initEmpty); '$dir' has none")
  }

  /** Index of the primary file an incoming id lands in: the first file
    * whose id-stats max sorts at or above it (ranged layout), the last
    * file when the id sorts past every range (append tail). -1 = empty.
    */
  private def targetFile(metas: Seq[FileMeta], id: String): Int = {
    if (metas.isEmpty) return -1
    val i = metas.indexWhere(m =>
      m.maxId.exists(mx => !SparkStringOrder.gt(id, mx)))
    if (i < 0) metas.length - 1 else i
  }

  /** A fresh instance on the same dir (lazy footer/sidecar metadata
    * reloads; IO counters reset — mutations change the files).
    */
  private def reopened: ParquetCollectionStore =
    new ParquetCollectionStore(dir, collection, descriptor, ivfNprobe,
      ivfCandidateK, hnswEf, hnswCandidateK)

  /** Run the optimizer job on THIS store's dir and reopen — the
    * instance face of [[ParquetCollectionStore.optimize]], COW
    * discipline (the caller swaps the returned instance in, exactly
    * like a mutation). Log positions are untouched: the optimizer
    * rebuilds sidecars from the COW-current primaries and reseals them
    * at the current log head; it never writes the log.
    */
  def optimized(spark: org.apache.spark.sql.SparkSession,
                ivfMaxIter: Int = 0): ParquetCollectionStore = {
    ParquetCollectionStore.optimize(spark, dir, ivfMaxIter)
    reopened
  }

  /** UPSERT `pts` (point-id semantics: an incoming id replaces the
    * stored point; last occurrence wins within the batch) — the DSv2
    * write-commit path over the lakehouse backend. COW: only primary
    * files whose id range the batch touches are rewritten; the batch
    * also seals as one log segment (id order, matching the in-memory
    * store's replay contract).
    */
  def appended(c: String, pts: IndexedSeq[Point]): ParquetCollectionStore = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    requireLog("appended")
    if (pts.isEmpty) return this
    val deduped = pts.groupBy(_.id).view.mapValues(_.last).values.toIndexedSeq
      .sortWith((a, b) => SparkStringOrder.lt(a.id, b.id))
    val metas = fileMetas
    val fields = descriptor.fields.map(_.name)
    val oldHead = ParquetLog.head(logDir)
    // ONLINE index maintenance needs the OLD versions of updated ids
    // (their index rows must drop before the re-insert, and the value
    // families need the old VALUE) — read BEFORE the COW rewrite
    // (footer-pruned point lookup, bounded by the batch's id ranges);
    // skipped when no sidecar is current
    val current = maintainers.filter(_.appliedAt == oldHead)
    val preExistingPts: IndexedSeq[Point] =
      if (current.isEmpty) IndexedSeq.empty
      else queryPoints(c, 0L, pointCount(c), withPayload = true,
        descriptor.fields.map(_.name),
        None, idFilter = Some(deduped.map(_.id).toSet)).toIndexedSeq
    if (metas.isEmpty) {
      ParquetLog.writePrimary(new java.io.File(dir, "part-00000.parquet"),
        deduped, rowCodec)
    } else {
      deduped.groupBy(p => targetFile(metas, p.id)).foreach {
        case (idx, batch) =>
          val fm = metas(idx)
          val old = queryPoints(c, fm.start, fm.start + fm.rows,
            withPayload = true, fields, None).toIndexedSeq
          val incoming = batch.map(_.id).toSet
          val merged = (old.filterNot(p => incoming(p.id)) ++ batch)
            .sortWith((a, b) => SparkStringOrder.lt(a.id, b.id))
          ParquetLog.writePrimary(new java.io.File(fm.path), merged,
            rowCodec)
      }
    }
    val newHead = ParquetLog.appendSegment(logDir, oldHead,
      deduped.map(LogEntry(LogOps.Upsert, _)), rowCodec)
    val batch = MaintBatch(deduped, IndexedSeq.empty, preExistingPts,
      oldHead, newHead)
    current.foreach(maintain(_, batch))
    reopened
  }

  // ------------------------------------- sidecar maintenance protocol --

  /** One mutation batch as every sidecar maintainer sees it: the
    * deduped upserts, the removed points (id, payload and sparse
    * vectors — what names the partitions they lived in), the
    * pre-rewrite copies of updated ids, and the log span it sealed. A
    * batch either upserts or removes, so an id is never both an old
    * copy of an update and a removed point.
    */
  private case class MaintBatch(upserts: IndexedSeq[Point],
                                removed: IndexedSeq[Point],
                                preExisting: IndexedSeq[Point],
                                oldHead: Long, newHead: Long) {
    val upIds: Set[String] = upserts.iterator.map(_.id).toSet
  }

  /** One maintained sidecar: its directory, the marker the serve opens
    * (`meta.txt`; `field.txt` for the ANN families) with the build's log
    * position on line `buildLine`, its bulk arm (`reseal`), and its own
    * work (`absorb`: given the marker lines and the batch, the partition
    * writes to run with the marker parked — or None to park, leaving
    * the watermark where it is so the overlay serves the batch exactly).
    */
  private case class Maintainer(base: java.io.File, markerName: String,
      buildLine: Int,
      reseal: org.apache.spark.sql.SparkSession => Unit,
      absorb: (Array[String], MaintBatch) => Option[() => Unit]) {
    def marker: java.io.File = new java.io.File(base, markerName)
    def lines: Option[Array[String]] =
      ParquetCollectionStore.markerLines(marker)
    def appliedAt: Long =
      lines.fold(-1L)(ParquetCollectionStore.appliedAt(base, _, buildLine))
  }

  /** Every sidecar family of this dir, in absorb order. */
  private def maintainers: Seq[Maintainer] =
    Seq(hnswMaintainer, ivfMaintainer, textMaintainer, geoMaintainer) ++
      pidxBases.map(payloadMaintainer) :+ sparseMaintainer

  /** The ONE online-maintenance protocol, for every sidecar family:
    *
    *  - a sidecar absorbs a batch only while it is current up to the
    *    pre-batch head — one unabsorbed mutation (a legacy gap, a
    *    parked absorb) parks it until the next reseal, and serving stays
    *    exact throughout via the freshness overlay;
    *  - a batch that rivals the corpus reseals instead
    *    ([[maybeBulkReseal]]);
    *  - the absorb's partition writes run with the marker PARKED: a
    *    crash between a partition's wipe and its rewrite leaves the
    *    sidecar invisible (exact fallback, never silently incomplete
    *    partitions);
    *  - the window closes by advancing the watermark (`inserted.txt`, so
    *    the next serve overlays an EMPTY tail) and the absorbed-since-
    *    seal counter (`absorbed.txt`, the bulk arm's geometric-schedule
    *    state, deleted by every seal).
    */
  private def maintain(mt: Maintainer, b: MaintBatch): Unit =
    if (mt.appliedAt == b.oldHead &&
        !maybeBulkReseal(mt.base, b.upserts.size)(mt.reseal))
      mt.absorb(mt.lines.get, b).foreach { work =>
        ParquetCollectionStore.withParkedMarker(mt.marker) {
          work()
          ParquetCollectionStore.atomicWriteText(
            new java.io.File(mt.base, "inserted.txt").toPath,
            b.newHead.toString)
          if (b.upserts.nonEmpty) {
            val f = new java.io.File(mt.base, "absorbed.txt")
            ParquetCollectionStore.atomicWriteText(f.toPath,
              (ParquetCollectionStore.readWatermark(f).getOrElse(0L) +
                b.upserts.size).toString)
          }
        }
      }

  /** The tombstone LEDGER (`dead.txt`) of one sidecar over one batch,
    * keyed by id (`F`: where the dead copy lives, when the family
    * records it at flag time). A delete flags its dead copy in O(batch)
    * while the flag set stays under
    * [[ParquetCollectionStore.deadFlagMaxDial]]; past the cap (a mass
    * delete, a truncate) every flag and every removed copy consolidates
    * out of its partition instead, so the file stays model-sized by
    * construction. A resurrected id's dead copy always leaves before
    * the re-insert, and a partition that rewrites anyway reclaims the
    * standing flags it holds ([[fold]]).
    */
  private final class Ledger[F](file: java.io.File,
                                codec: ParquetCollectionStore.FlagCodec[F],
                                b: MaintBatch,
                                removedFlags: Seq[(String, F)]) {
    val flags: Map[String, F] = codec.read(file)
    val tombstone: Boolean =
      flags.size + b.removed.size <= ParquetCollectionStore.deadFlagMaxDial
    /** Flags that outlive the batch unless folded. */
    val standing: Map[String, F] = flags.filterNot(f => b.upIds(f._1))
    /** Dead copies that must leave their partitions NOW. */
    val drops: Seq[(String, F)] =
      if (tombstone) flags.filter(f => b.upIds(f._1)).toSeq
      else flags.toSeq ++ removedFlags
    private val folded = scala.collection.mutable.Set.empty[String]
    def fold(ids: Iterable[String]): Unit = folded ++= ids

    /** Write the batch's flags, or delete an emptied file. */
    def commit(): Unit = {
      val next =
        if (!tombstone) Map.empty[String, F]
        else (standing -- folded) ++ removedFlags
      if (next != flags) {
        if (next.isEmpty) java.nio.file.Files.deleteIfExists(file.toPath): Unit
        else ParquetCollectionStore.atomicWriteText(file.toPath,
          codec.lines(next).mkString("\n"))
      }
    }
  }

  /** Absorb a batch into a family whose partitions are a function of
    * the point (`P`: sparse dim bucket, text token bucket, geo cell,
    * payload value), under `base`. Per touched partition, NEW rows
    * append (`inc-*`, the level-0 cap) and a partition holding a
    * dropped copy — an update's old version, a resurrected tombstone,
    * everything on a mass drop — consolidates.
    *
    * `rows` lays an upsert's new rows per partition; `flagOf` names
    * where an old copy lives (recorded in its tombstone), `homes` maps
    * that to partitions; `folds` = a rewritten partition reclaims the
    * flags it holds (single-partition flags only: a multi-bucket flag
    * outlives one bucket's rewrite); `read`/`write`/`idOf`/`order` are
    * the partition's row codec and file order.
    */
  private def keyedAbsorb[P, R, F](base: java.io.File, b: MaintBatch)(
      codec: ParquetCollectionStore.FlagCodec[F],
      partDir: P => java.io.File,
      rows: Point => Seq[(P, R)],
      flagOf: Point => Option[F],
      homes: F => Seq[P],
      folds: Boolean,
      read: java.io.File => IndexedSeq[R],
      write: (java.io.File, Seq[R]) => Unit,
      idOf: R => String,
      order: Seq[R] => Seq[R]): Unit = {
    val ledger = new Ledger(new java.io.File(base, "dead.txt"), codec, b,
      b.removed.flatMap(p => flagOf(p).map(p.id -> _)))
    def byHome(flags: Seq[(String, F)]): Map[P, Set[String]] =
      flags.flatMap { case (id, f) => homes(f).map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val drops = byHome(b.preExisting.flatMap(p =>
      flagOf(p).map(p.id -> _)) ++ ledger.drops)
    val held =
      if (folds) byHome(ledger.standing.toSeq)
      else Map.empty[P, Set[String]]
    val ins = b.upserts.flatMap(rows).groupBy(_._1)
    (ins.keySet ++ drops.keySet).foreach { p =>
      val d = partDir(p)
      val batch = order(ins.get(p).fold(Seq.empty[R])(_.map(_._2)))
      val dropped = drops.getOrElse(p, Set.empty)
      val consolidate =
        dropped.nonEmpty || ParquetCollectionStore.incFull(d, batch)
      val gone =
        if (!consolidate) dropped
        else {
          val f = held.getOrElse(p, Set.empty)
          ledger.fold(f)
          dropped ++ f
        }
      ParquetCollectionStore.rewritePartition(d, b.newHead, consolidate,
        batch)(order(read(d).filterNot(r => gone(idOf(r))) ++ batch))(
        write)
    }
    ledger.commit()
  }

  /** The dim-bucketed sparse postings: (id, dim, value) rows in the
    * writer's and the serve's floorMod bucket; a tombstone records the
    * dead copy's dims.
    */
  private def sparseMaintainer: Maintainer = Maintainer(
    new java.io.File(s"$dir/_sparse"), "meta.txt", 2,
    sp => ParquetCollectionStore.resealSparseSidecar(sp, dir),
    (l, b) => {
      val (field, nBuckets) = (l(0), l(1).toInt)
      def bucketOf(dim: Int): Int = java.lang.Math.floorMod(dim, nBuckets)
      Some { () =>
        keyedAbsorb[Int, (String, Int, Double), Seq[Int]](
          new java.io.File(s"$dir/_sparse"), b)(
            codec = ParquetCollectionStore.intListFlags,
            partDir = bk => new java.io.File(s"$dir/_sparse/points/db=$bk"),
            rows = p => p.sparse.get(field).toSeq.flatMap { case (di, dv) =>
              di.indices.map(i =>
                (bucketOf(di(i)), (p.id, di(i), dv(i).toDouble)))
            },
            flagOf = p => p.sparse.get(field).map(_._1.toSeq),
            homes = _.map(bucketOf).distinct,
            folds = false,
            read = d => ParquetCollectionStore.parquetFiles(d)
              .flatMap(f => ParquetLog.readPostingRows(f.getAbsolutePath)),
            write = ParquetLog.writePostingRows,
            idOf = _._1,
            order = _.sortBy(r => (r._1, r._2)))
        sparseIncInserts.addAndGet(
          b.upserts.count(_.sparse.contains(field)).toLong): Unit
      }
    })

  /** The batch's payloads as a driver-local frame — tag "n" for the
    * upserts, "o" for the old copies (pre-update and removed) — so a
    * family partitions by the WRITER'S OWN extraction expression,
    * engine-evaluated (the partition value cannot drift from a
    * rebuild's); None for an empty batch.
    */
  private def batchPayloads(spark: org.apache.spark.sql.SparkSession,
                            b: MaintBatch): Option[DataFrame] = {
    val rows = b.upserts.map(p => ("n", p.id, p.payload.orNull)) ++
      (b.preExisting ++ b.removed).map(p => ("o", p.id, p.payload.orNull))
    if (rows.isEmpty) None
    else Some(spark.createDataFrame(rows).toDF("tag", "id", "payload"))
  }

  /** Points absorbed into the token buckets by the incremental
    * maintenance path (specs).
    */
  @transient lazy val tidxIncInserts = new AtomicLong(0L)

  /** The token-bucket postings (match_text/phrase candidates AND the
    * BM25 ranked serve): documents tokenize with the writer's own
    * case-folded extraction (the `\s+` split and tf/dl arithmetic mirror
    * the builder); a tombstone records the dead copy's token buckets.
    * The LIVE (nDocs, totalTokens) stats adjust per batch
    * (`_tidx/stats.txt` supersedes the meta's build-time line), so BM25's
    * N and avgdl track the corpus — a keyless point counts toward N with
    * dl 0, the builder's rule. Parks on a legacy match-only sidecar (no
    * stats) and without a live SparkSession.
    */
  private def textMaintainer: Maintainer = Maintainer(
    new java.io.File(s"$dir/_tidx"), "meta.txt", 2,
    sp => ParquetCollectionStore.resealTextSidecar(sp, dir),
    (l, b) => for {
      stats0 <- ParquetCollectionStore.textStats(dir, l)
      spark <- ParquetCollectionStore.liveSpark
    } yield {
      val (key, nBuckets) = (l(0), l(1).toInt)
      val texts: Map[(String, String), String] =
        batchPayloads(spark, b).fold(Map.empty[(String, String), String])(
          _.selectExpr("tag", "id",
              s"lower(get_json_object(payload, '$$.$key')) AS t")
            .collect()
            .flatMap(r => Option(r.getString(2))
              .map(t => ((r.getString(0), r.getString(1)), t)))
            .toMap)
      def toks(tag: String, id: String): Seq[String] =
        texts.get((tag, id)).map(_.split("\\s+").toSeq.filter(_.nonEmpty))
          .getOrElse(Nil)
      def bucketOf(t: String): Int =
        ParquetCollectionStore.tokenBucket(t, nBuckets)
      () => {
        keyedAbsorb[Int, (String, String, Long, Long), Seq[Int]](
          new java.io.File(s"$dir/_tidx"), b)(
            codec = ParquetCollectionStore.intListFlags,
            partDir = bk => new java.io.File(s"$dir/_tidx/points/tb=$bk"),
            rows = p => {
              val ts = toks("n", p.id)
              ts.groupBy(identity).toSeq.map { case (tok, occ) =>
                (bucketOf(tok), (p.id, tok, occ.length.toLong,
                  ts.length.toLong))
              }
            },
            flagOf = p =>
              Some(toks("o", p.id).distinct.map(bucketOf).distinct),
            homes = identity,
            folds = false,
            read = d => ParquetCollectionStore.parquetFiles(d)
              .flatMap(f => ParquetLog.readTextPostingRows(f.getAbsolutePath)),
            write = ParquetLog.writeTextPostingRows,
            idOf = _._1,
            order = _.sortBy(r => (r._1, r._2)))
        tidxIncInserts.addAndGet(b.upserts.size.toLong): Unit
        // inserts of NEW ids add (1, dl); updates move dl; deletes
        // subtract (1, dl)
        val preIds = b.preExisting.iterator.map(_.id).toSet
        var dN = 0L
        var dT = 0L
        b.upserts.foreach { p =>
          val dl = toks("n", p.id).length.toLong
          if (preIds(p.id)) dT += dl - toks("o", p.id).length.toLong
          else { dN += 1L; dT += dl }
        }
        b.removed.foreach { p =>
          dN -= 1L; dT -= toks("o", p.id).length.toLong
        }
        ParquetCollectionStore.atomicWriteText(
          java.nio.file.Paths.get(s"$dir/_tidx/stats.txt"),
          s"${stats0._1 + dN} ${stats0._2 + dT}")
      }
    })

  /** Points absorbed into the cell partitions by the incremental
    * maintenance path (specs).
    */
  @transient lazy val gidxIncInserts = new AtomicLong(0L)

  /** Points absorbed into value partitions by the incremental
    * maintenance path, summed across keys (specs).
    */
  @transient lazy val pidxIncInserts = new AtomicLong(0L)

  /** The VALUE-PARTITION families — geo cells and keyed payload
    * indexes — as one maintainer: the covered point rows (meta line 3
    * names the vector columns) partitioned by a value the engine
    * extracts with the writer's own expression (`extract`, over the
    * meta lines and [[batchPayloads]]), so filtered search arms, footer
    * COUNTS and facet histograms stay index-served under churn. A
    * tombstone records its `(value, id)` pair, so counts subtract
    * per-partition dead counts without reading a row; rows without a
    * value drop (the writer's rule: they can never match a servable
    * condition). Parks without a live SparkSession.
    */
  private def valueMaintainer[V: Ordering](base: java.io.File,
      reseal: org.apache.spark.sql.SparkSession => Unit,
      parse: String => V, dirName: V => String, counter: AtomicLong)(
      extract: (Array[String], DataFrame) => Map[(String, String), V]): Maintainer =
    Maintainer(base, "meta.txt", 3, reseal, (l, b) =>
      ParquetCollectionStore.liveSpark.map { spark =>
        val covered: Set[String] =
          if (l.length > 2 && l(2).nonEmpty) l(2).split(",").toSet
          else Set.empty
        val coveredFields = descriptor.fields.map(_.name)
          .filter(fn => physicalCols(fieldCols(fn)).forall(covered))
        val vals = batchPayloads(spark, b)
          .fold(Map.empty[(String, String), V])(extract(l, _))
        () => {
          keyedAbsorb[V, Point, V](base, b)(
            codec = ParquetCollectionStore.valueFlags(parse),
            partDir = v => new java.io.File(base, s"points/${dirName(v)}"),
            rows = p => vals.get(("n", p.id)).map(_ -> p).toSeq,
            flagOf = p => vals.get(("o", p.id)),
            homes = Seq(_),
            folds = true,
            read = d =>
              if (!d.isDirectory) IndexedSeq.empty
              else {
                val st = new ParquetCollectionStore(d.getAbsolutePath,
                  collection, descriptor)
                st.queryPoints(collection, 0L, st.pointCount(collection),
                  withPayload = true, coveredFields, None).toIndexedSeq
              },
            write = ParquetLog.writePrimary(_, _, rowCodec),
            idOf = _.id,
            order = ParquetCollectionStore.byId)
          counter.addAndGet(
            b.upserts.count(p => vals.contains(("n", p.id))).toLong): Unit
        }
      })

  /** Geo cells: the writer's lat/lon extraction and Morton cell
    * expression ([[graft.ops.Geo.cellCol]]); rows without a castable
    * lat AND lon drop.
    */
  private def geoMaintainer: Maintainer = valueMaintainer[Long](
    new java.io.File(s"$dir/_gidx"),
    sp => ParquetCollectionStore.resealGeoSidecar(sp, dir),
    _.toLong, c => s"cell=$c", gidxIncInserts) { (l, df) =>
    import org.apache.spark.sql.functions.expr
    val (key, bits) = (l(0), l(1).toInt)
    df.withColumn("__lat", expr(
        s"cast(get_json_object(payload, '$$.$key.lat') as double)"))
      .withColumn("__lon", expr(
        s"cast(get_json_object(payload, '$$.$key.lon') as double)"))
      .filter(col("__lat").isNotNull && col("__lon").isNotNull)
      .withColumn("cell",
        graft.ops.Geo.cellCol(col("__lat"), col("__lon"), bits))
      .select("tag", "id", "cell")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
  }

  /** Keyed payload-index sidecar bases carrying a meta (the legacy
    * root layout never maintains — optimize rebuilds it keyed).
    */
  private def pidxBases: Seq[java.io.File] =
    Option(new java.io.File(s"$dir/_pidx").listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("k_") &&
        new java.io.File(f, "meta.txt").isFile)
      .sortBy(_.getName)

  /** One keyed payload index: the partition value is the key's RAW JSON
    * scalar (the writer's type-tagged extraction; non-scalar and absent
    * values drop), the dir name Spark's own `escapePathName` — online
    * appends are indistinguishable from rebuilt partitions. Each key's
    * index keeps its own watermark and decides its own bulk arm.
    */
  private def payloadMaintainer(base: java.io.File): Maintainer =
    valueMaintainer[String](base,
      sp => ParquetCollectionStore.resealPayloadSidecar(sp, dir,
        base.getAbsolutePath),
      identity, v => "value=" + org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(v),
      pidxIncInserts) { (l, df) =>
      df.selectExpr("tag", "id",
          s"to_json(try_variant_get(try_parse_json(payload), '$$.${l(0)}')) AS raw")
        .collect()
        .flatMap { r =>
          val raw = r.getString(2)
          if (raw == null || raw == "null" || raw.startsWith("{") ||
              raw.startsWith("[")) None
          else Some(((r.getString(0), r.getString(1)), raw))
        }.toMap
    }

  /** The ANN families' consolidate decision for one partition: rows to
    * drop, the level-0 file cap ([[ParquetCollectionStore.incFull]]), or
    * the per-partition HOTSPOT dial — churn absorbed into THIS
    * partition since its last consolidation plus the batch rivals its
    * own `size` (the corpus-fraction bulk arm cannot see skewed churn;
    * see [[ParquetCollectionStore.readPartCounters]]). Updates the
    * partition's absorbed counter in `parts`.
    */
  private def annConsolidate(parts: scala.collection.mutable.Map[String, Long],
                             key: String, d: java.io.File, batch: Seq[Point],
                             dropping: Boolean, size: => Long): Boolean = {
    val full = ParquetCollectionStore.incFull(d, batch)
    val frac = ParquetCollectionStore.bulkMaintainFractionDial
    val absorbed = parts.getOrElse(key, 0L)
    val hot = frac > 0 && batch.nonEmpty && {
      val n = size
      n > 0L && (absorbed + batch.size).toDouble >= frac * n
    }
    val consolidate = dropping || full || hot
    if (hot && !dropping && !full) hotspotConsolidations.incrementAndGet(): Unit
    parts(key) = if (consolidate) 0L else absorbed + batch.size
    consolidate
  }

  /** The IVF cluster partitions (so BOTH ANN sidecars stay
    * index-served under churn):
    *
    *  - NEW points assign to their nearest centroid (the probe's own
    *    rule: euclid over the centroid store, smallest-cluster tiebreak)
    *    and append in that cluster — plus an int8 codes row when the
    *    quantized tier exists (the engine kernel's exact arithmetic);
    *  - UPDATES and resurrected tombstones consolidate the cluster(s)
    *    holding their old copies (found by footer-pruned id lookup
    *    across the partitions), then re-insert by fresh assignment;
    *  - DELETES tombstone (`_ivf/dead.txt`) — flagged rows never score,
    *    never erode the quantized candidate margin.
    *
    * Centroids do NOT move online — exactly the backend's model
    * (assignment drifts as the distribution does; the drift statistic
    * and the offline refit are the repair).
    */
  private def ivfMaintainer: Maintainer = Maintainer(
    new java.io.File(s"$dir/_ivf"), "field.txt", 1,
    sp => ParquetCollectionStore.resealIvfSidecar(sp, dir),
    (l, b) => {
      val field = l(0)
      val centDir = new java.io.File(s"$dir/_ivf/centroids")
      val centroids =
        if (!centDir.isDirectory) IndexedSeq.empty
        else {
          val cs = new ParquetCollectionStore(centDir.getAbsolutePath,
            collection, descriptor)
          cs.queryPoints(collection, 0L, cs.pointCount(collection),
              withPayload = false, Seq(field), None)
            .flatMap(p => p.dense.get(field).map(v => (p.id, v)))
            .toIndexedSeq
        }
      if (centroids.isEmpty) None
      else Some(() => ivfAbsorb(field, centroids, b))
    })

  private def ivfAbsorb(field: String,
                        centroids: IndexedSeq[(String, Array[Float])],
                        b: MaintBatch): Unit = {
    // nearest centroid under the probe's own rule: ascending euclid,
    // centroid-id ascending tiebreak (ids are zero-padded, so the
    // string order IS the numeric order)
    def assign(v: Array[Float]): String = {
      val q = v.map(_.toDouble)
      var best: String = null
      var bestD = Double.MaxValue
      centroids.foreach { case (cid, cv) =>
        val d = SearchSpec.score("euclid", cv, q).get
        if (d < bestD) { bestD = d; best = cid }
      }
      java.lang.Long.parseLong(best).toString
    }
    val ledger = new Ledger(new java.io.File(s"$dir/_ivf/dead.txt"),
      ParquetCollectionStore.idFlags, b, b.removed.map(_.id -> (())))
    val drops = (b.preExisting.map(_.id) ++ ledger.drops.map(_._1)).toSet
    val dropsByCluster: Map[String, Set[String]] =
      if (drops.isEmpty) Map.empty
      else Option(new java.io.File(s"$dir/_ivf/points").listFiles())
        .getOrElse(Array.empty).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
        .flatMap { d =>
          val st = new ParquetCollectionStore(d.getAbsolutePath,
            collection, descriptor)
          val found = st.queryPoints(collection, 0L,
              st.pointCount(collection), withPayload = false, Nil, None,
              idFilter = Some(drops)).map(_.id).toSet
          if (found.isEmpty) None
          else Some(d.getName.substring("cluster=".length) -> found)
        }.toMap
    val upsByCluster = b.upserts.filter(_.dense.contains(field))
      .groupBy(p => assign(p.dense(field)))
    val codesTier = new java.io.File(s"$dir/_ivf/codes").isDirectory
    val partsFile = new java.io.File(s"$dir/_ivf/absorbed_parts.txt")
    val parts = scala.collection.mutable.Map.empty[String, Long] ++=
      ParquetCollectionStore.readPartCounters(partsFile)
    (upsByCluster.keySet ++ dropsByCluster.keySet).foreach { v =>
      val cDir = new java.io.File(s"$dir/_ivf/points/cluster=$v")
      val batch = upsByCluster.getOrElse(v, IndexedSeq.empty)
      val segDrops0 = dropsByCluster.getOrElse(v, Set.empty)
      def clusterStore = new ParquetCollectionStore(cDir.getAbsolutePath,
        collection, descriptor)
      val consolidate = annConsolidate(parts, v, cDir, batch,
        segDrops0.nonEmpty,
        if (!cDir.isDirectory) 0L else clusterStore.pointCount(collection))
      val rows =
        if (!consolidate) IndexedSeq.empty[Point]
        else {
          val st = clusterStore
          st.queryPoints(collection, 0L, st.pointCount(collection),
            withPayload = true, descriptor.fields.map(_.name), None)
            .toIndexedSeq
        }
      // a consolidating cluster reclaims its tombstoned ghosts free
      val segDead = rows.iterator.map(_.id).filter(ledger.standing.contains)
        .toSet
      ledger.fold(segDead)
      val gone = segDrops0 ++ segDead
      ParquetCollectionStore.rewritePartition(cDir, b.newHead, consolidate,
        ParquetCollectionStore.byId(batch))(ParquetCollectionStore.byId(
          rows.filterNot(p => gone(p.id)) ++ batch))(
        ParquetLog.writePrimary(_, _, rowCodec))
      if (codesTier)
        ParquetCollectionStore.rewriteCodes(
          new java.io.File(s"$dir/_ivf/codes/cluster=$v"), b.newHead,
          consolidate, gone, batch.map { p =>
            val (c, s) = ParquetCollectionStore.int8Codes(p.dense(field))
            (p.id, c, s)
          })
      ivfIncInserts.addAndGet(batch.size): Unit
    }
    ledger.commit()
    ParquetCollectionStore.writePartCounters(partsFile,
      parts.toMap.filter(_._2 > 0L))
  }

  /** The per-segment HNSW graphs — the backend's online HNSW maintenance
    * (the indexing thresholds in the reference's test config,
    * `tests/bin/config.yaml:169-191`, exist precisely for this): each id
    * routes by the seeded segment hash and, per touched segment,
    *
    *  - NEW points run the SAME sequential insert loop the build ran
    *    ([[graft.ops.HnswSegment.insertInto]]) and append as an `inc-*`
    *    points file + the new nodes' edge rows — pure-insert batches
    *    never rewrite a byte of existing state;
    *  - UPDATES and resurrected tombstones consolidate the segment: the
    *    dropped ids leave the point files, edges touching them leave
    *    the edge files (a stale neighborhood never routes a fresh
    *    vector), and updated points re-insert with clean neighborhoods;
    *  - plain DELETES tombstone: ghosts keep navigating, never enter a
    *    result beam, and the next consolidation reclaims them.
    *
    * Node removal can orphan a distant node in theory; the offline
    * rebuild is the repair, exactly the backend's vacuum role. Points
    * without the indexed field are dropped-not-inserted: they can never
    * score on it, so their absence is the exact path's behavior. Cost:
    * one segment-state load per TOUCHED segment per batch (pure inserts
    * load (id, vector) + edges; consolidations load full rows).
    */
  private def hnswMaintainer: Maintainer = Maintainer(
    new java.io.File(s"$dir/_hnsw"), "field.txt", 1,
    sp => ParquetCollectionStore.resealHnswSidecar(sp, dir),
    (l, b) => Some(() => hnswAbsorb(l, b)))

  private def hnswAbsorb(l: Array[String], b: MaintBatch): Unit = {
    val (field, m, efC, nseg, seed) =
      (l(0), l(2).toInt, l(3).toInt, l(4).toInt, l(5).toLong)
    val metric = if (l.length > 6 && l(6).nonEmpty) l(6) else "cosine"
    val kind = if (l.length > 7 && l(7).nonEmpty) l(7) else "dense"
    // the node key: the field's own vector (dense graphs) or the
    // mean-pooled vector set (multi graphs) — the serve loader's rule
    def pooledOf(p: Point): Option[Array[Double]] =
      ParquetCollectionStore.pooledVector(kind, field, p)
    def segOf(id: String): Int = graft.ops.HnswSegment.segOf(id, nseg, seed)
    val ledger = new Ledger(new java.io.File(s"$dir/_hnsw/dead.txt"),
      ParquetCollectionStore.idFlags, b, b.removed.map(_.id -> (())))
    // an update's old node must not shadow the re-insert; a resurrected
    // id's dead copy would collide with the fresh node
    val dropsBySeg = (b.preExisting.map(_.id) ++ ledger.drops.map(_._1))
      .toSet.groupBy(segOf)
    val upsBySeg = b.upserts.groupBy(p => segOf(p.id))
    val codesTier = new java.io.File(s"$dir/_hnsw/codes").isDirectory
    // the codes row of a point: int8 of the float-narrowed NODE KEY —
    // the same bytes the offline writers lay (QuantKernel arithmetic,
    // double pooling narrowed to float before quantizing)
    def codesOf(p: Point): Option[(String, Array[Byte], Float)] =
      (if (kind == "multi") pooledOf(p).map(_.map(_.toFloat))
       else p.dense.get(field)).map { v =>
        val (cd, s) = ParquetCollectionStore.int8Codes(v)
        (p.id, cd, s)
      }
    val partsFile = new java.io.File(s"$dir/_hnsw/absorbed_parts.txt")
    val parts = scala.collection.mutable.Map.empty[String, Long] ++=
      ParquetCollectionStore.readPartCounters(partsFile)
    (upsBySeg.keySet ++ dropsBySeg.keySet).foreach { seg =>
      val segDir = new java.io.File(s"$dir/_hnsw/points/seg=$seg")
      val segDrops0 = dropsBySeg.getOrElse(seg, Set.empty)
      val batch = upsBySeg.getOrElse(seg, IndexedSeq.empty)
        .filter(p => pooledOf(p).isDefined)
      val segStore =
        if (!segDir.isDirectory) None
        else Some(new ParquetCollectionStore(segDir.getAbsolutePath,
          collection, descriptor))
      val consolidate = annConsolidate(parts, seg.toString, segDir, batch,
        segDrops0.nonEmpty, segStore.fold(0L)(_.pointCount(collection)))
      // a segment that rewrites anyway reclaims its tombstoned ghosts
      val segDead =
        if (!consolidate) Set.empty[String]
        else ledger.standing.keySet.filter(segOf(_) == seg)
      ledger.fold(segDead)
      val segDrops = segDrops0 ++ segDead
      // full rows only when consolidating (the rewrite needs them);
      // the pure-insert path reads just (id, indexed vector)
      val rows: IndexedSeq[Point] = segStore.fold(IndexedSeq.empty[Point]) {
        st => st.queryPoints(collection, 0L, st.pointCount(collection),
          withPayload = consolidate,
          if (consolidate) descriptor.fields.map(_.name) else Seq(field),
          None).toIndexedSeq
      }
      val kept = rows.filterNot(p => segDrops(p.id))
      val keptIds = kept.iterator.map(_.id).toSet
      val edges = hnswEdgeRows(seg)
      val keptEdges =
        if (!consolidate) edges
        else edges.filter(e => keptIds(e._2) && keptIds(e._3))
      val graphPts = kept.flatMap(p => pooledOf(p).map((p.id, _)))
      val newPts = batch.flatMap(p => pooledOf(p).map((p.id, _)))
      // a MASS drop fragments an edge-filtered graph (removing a node
      // removes the routes THROUGH it; at >10% removal whole regions
      // orphan — measured on the circle fixture at 45%): the
      // consolidation already pays O(segment), so rebuild the segment's
      // graph outright. Small drops (the update case) keep the cheap
      // edge filter.
      val massDrop = consolidate &&
        segDrops.size.toLong * 10L > math.max(rows.size.toLong, 1L)
      val newEdges =
        if (massDrop) Seq.empty
        else graft.ops.HnswSegment.insertInto(graphPts, keptEdges,
          newPts, m, efC, seed, metric).toSeq
      ParquetCollectionStore.rewritePartition(segDir, b.newHead, consolidate,
        ParquetCollectionStore.byId(batch))(
        ParquetCollectionStore.byId(kept ++ batch))(
        ParquetLog.writePrimary(_, _, rowCodec))
      ParquetCollectionStore.rewritePartition(
        new java.io.File(s"$dir/_hnsw/edges/seg=$seg"), b.newHead,
        consolidate, newEdges, "edges")(
        if (massDrop)
          graft.ops.HnswSegment.build(graphPts ++ newPts, m, efC, seed,
            metric).toSeq
        else keptEdges ++ newEdges)(ParquetLog.writeEdgeRows)
      if (codesTier)
        ParquetCollectionStore.rewriteCodes(
          new java.io.File(s"$dir/_hnsw/codes/seg=$seg"), b.newHead,
          consolidate, segDrops, batch.flatMap(codesOf))
      hnswIncInserts.addAndGet(batch.size): Unit
    }
    ledger.commit()
    ParquetCollectionStore.writePartCounters(partsFile,
      parts.toMap.filter(_._2 > 0L))
  }

  /** DELETE by id set: rewrite only the primary files whose range can
    * hold a hit, seal the hits as one tombstone segment (stored order).
    */
  def removed(c: String, ids: Set[String]): ParquetCollectionStore = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    requireLog("removed")
    // ALL field names (dense + sparse + multi): kept rows in a rewritten
    // file must survive with every vector kind, exactly as appended() does.
    val fields = descriptor.fields.map(_.name)
    val hits = Seq.newBuilder[String]
    // the payload index needs the dropped rows' OLD payloads (their
    // value partitions); id+payload only, the rewrite loop reads them
    // anyway
    val droppedPts = Seq.newBuilder[Point]
    fileMetas.foreach { fm =>
      // footer-stats prune: skip files that cannot hold any target id
      val mayHit = fm.maxId.forall(mx =>
        ids.exists(id => !SparkStringOrder.gt(id, mx)))
      if (mayHit) {
        val old = queryPoints(c, fm.start, fm.start + fm.rows,
          withPayload = true, fields, None).toIndexedSeq
        val (dropped, kept) = old.partition(p => ids(p.id))
        if (dropped.nonEmpty) {
          hits ++= dropped.map(_.id)
          droppedPts ++= dropped.map(p =>
            Point(p.id, p.payload, sparse = p.sparse))
          val f = new java.io.File(fm.path)
          if (kept.isEmpty) ParquetCollectionStore.dropParquet(f)
          else ParquetLog.writePrimary(f, kept, rowCodec)
        }
      }
    }
    val hit = hits.result()
    if (hit.isEmpty) this
    else {
      val oldHead = ParquetLog.head(logDir)
      val newHead = ParquetLog.appendSegment(logDir, oldHead,
        hit.map(id => LogEntry(LogOps.Delete, Point(id, None))),
        rowCodec)
      val batch = MaintBatch(IndexedSeq.empty,
        droppedPts.result().toIndexedSeq, IndexedSeq.empty, oldHead, newHead)
      maintainers.foreach(maintain(_, batch))
      reopened
    }
  }

  /** `DELETE FROM t` — drop every point (tombstones logged so CDC
    * readers see the truncation as history, not silence).
    */
  def truncated(c: String): ParquetCollectionStore = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    val all = queryPoints(c, 0L, pointCount(c), withPayload = false,
      Nil, None).map(_.id).toSet
    if (all.isEmpty) this else removed(c, all)
  }

  /** COMPACT the change log up to global position `upTo` (exclusive):
    * segments wholly below are deleted, a straddling one is rewritten to
    * its retained suffix, retained entries keep their global positions
    * (checkpointed CDC readers past `upTo` are undisturbed), and readers
    * needing dropped positions fail loudly in [[logEntries]]. The
    * primary files already hold the head state (COW keeps them current),
    * so — unlike the in-memory store — no separate snapshot is written:
    * the primaries ARE the checkpoint. Bounds log storage of a
    * long-lived collection by state + tail.
    */
  def compacted(c: String, upTo: Long): ParquetCollectionStore = {
    require(c == collection, s"store at $dir serves '$collection', not '$c'")
    requireLog("compacted")
    val b = ParquetLog.base(logDir)
    if (upTo <= b) return this
    val headPos = ParquetLog.head(logDir)
    require(upTo <= headPos,
      s"cannot compact '$collection' past its log head ($headPos), got $upTo")
    val codec = rowCodec
    ParquetLog.segments(logDir).foreach { m =>
      if (m.end <= upTo)
        ParquetCollectionStore.dropParquet(new java.io.File(m.path))
      else if (m.start < upTo) {
        // straddling segment: rewrite the retained suffix at its
        // ORIGINAL positions, then drop the old file
        val retained = ParquetLog.readSegment(m.path, upTo, m.end, codec)
        ParquetCollectionStore.dropParquet(new java.io.File(m.path))
        ParquetLog.appendSegment(logDir, upTo, retained, codec): Unit
      }
    }
    ParquetLog.writeBase(logDir, upTo)
    reopened
  }

  /** Group -> Point: list decode dispatches on the file's list encoding
    * (3-level standard `list.element` wrappers vs 2-level repeated
    * primitives) and element width (float/double), so files written by
    * any conforming writer decode.
    */
  private def decode(g: Group, idIdx: Int, payIdx: Option[Int],
                     vecIdx: Seq[(String, Int)],
                     sparseIdx: Seq[(String, Int, Int)] = Seq.empty,
                     multiIdx: Seq[(String, Int)] = Seq.empty): Point = {
    val id = g.getString(idIdx, 0)
    val payload = payIdx.flatMap(pi =>
      if (g.getFieldRepetitionCount(pi) == 0) None
      else Some(g.getString(pi, 0)))
    val dense = vecIdx.flatMap { case (field, vi) =>
      if (g.getFieldRepetitionCount(vi) == 0) None
      else Some(field -> decodeFloatList(g.getGroup(vi, 0).asInstanceOf[Group]))
    }.toMap
    val sparse = sparseIdx.flatMap { case (field, ii, vi) =>
      if (g.getFieldRepetitionCount(ii) == 0 ||
          g.getFieldRepetitionCount(vi) == 0) None
      else Some(field -> ((
        decodeIntList(g.getGroup(ii, 0).asInstanceOf[Group]),
        decodeFloatList(g.getGroup(vi, 0).asInstanceOf[Group]))))
    }.toMap
    val multi = multiIdx.flatMap { case (field, vi) =>
      if (g.getFieldRepetitionCount(vi) == 0) None
      else {
        // array<array<float>>: the outer 3-level list's element wrappers
        // each hold an inner float list
        val outer = g.getGroup(vi, 0).asInstanceOf[Group]
        val n = outer.getFieldRepetitionCount(0)
        val arr = new Array[Array[Float]](n)
        var i = 0
        while (i < n) {
          val w = outer.getGroup(0, i).asInstanceOf[Group]
          arr(i) =
            if (w.getFieldRepetitionCount(0) == 0) Array.empty[Float]
            else decodeFloatList(w.getGroup(0, 0).asInstanceOf[Group])
          i += 1
        }
        Some(field -> arr)
      }
    }.toMap
    Point(id, payload, dense, multi = multi, sparse = sparse)
  }

  private def decodeFloatList(listG: Group): Array[Float] = {
    val inner = listG.getType.getType(0)
    val n = listG.getFieldRepetitionCount(0)
    val arr = new Array[Float](n)
    var i = 0
    if (inner.isPrimitive) {
      val isFloat = inner.asPrimitiveType().getPrimitiveTypeName ==
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT
      while (i < n) {
        arr(i) = if (isFloat) listG.getFloat(0, i)
                 else listG.getDouble(0, i).toFloat
        i += 1
      }
    } else {
      while (i < n) {
        val w = listG.getGroup(0, i).asInstanceOf[Group]
        if (w.getFieldRepetitionCount(0) > 0) {
          val el = w.getType.getType(0).asPrimitiveType()
          arr(i) = el.getPrimitiveTypeName match {
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT =>
              w.getFloat(0, 0)
            case _ => w.getDouble(0, 0).toFloat
          }
        }
        i += 1
      }
    }
    arr
  }

  private def decodeIntList(listG: Group): Array[Int] = {
    val inner = listG.getType.getType(0)
    val n = listG.getFieldRepetitionCount(0)
    val arr = new Array[Int](n)
    var i = 0
    if (inner.isPrimitive) {
      while (i < n) { arr(i) = listG.getInteger(0, i); i += 1 }
    } else {
      while (i < n) {
        val w = listG.getGroup(0, i).asInstanceOf[Group]
        if (w.getFieldRepetitionCount(0) > 0) arr(i) = w.getInteger(0, 0)
        i += 1
      }
    }
    arr
  }
}

object ParquetCollectionStore {

  /** Seal a collection frame `(id, payload, <dense columns>)` into the
    * store layout: ranged by id into `numFiles` files, each sorted, so
    * the lexicographic file sequence carries global id order (the
    * property footer-level keyset skipping rests on). One shuffle —
    * an ingest-time batch job, like every stored layout here.
    */
  def write(df: DataFrame, dir: String, numFiles: Int = 4,
            withLog: Boolean = false): Unit = {
    df.repartitionByRange(numFiles, col("id"))
      .sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    if (withLog) {
      // the initial-ingest changelog: one segment per primary file,
      // sealing its enumeration positions as upserts — written by the
      // CLUSTER (one task per file, the row codec inferred from each
      // file's own schema), the driver only lists footers
      val metas = ParquetLog.primaryMetas(dir)
      val logPath = s"$dir/_log"
      new java.io.File(logPath).mkdirs()
      if (metas.nonEmpty)
        df.sparkSession.sparkContext
          .parallelize(metas, metas.size)
          .foreach { case (path, start, _) =>
            ParquetLog.mirrorPrimary(path, logPath, start)
          }
    }
  }

  /** Create an EMPTY log-enabled collection dir — the writable sink
    * target of a streaming pipeline over the lakehouse backend.
    */
  def initEmpty(dir: String): Unit = {
    new java.io.File(s"$dir/_log").mkdirs(): Unit
  }

  /** Lay an IVF sidecar under `dir/_ivf` so a store opened with
    * `ivfNprobe > 0` serves pushed top-k on `field` probe-pruned.
    *
    *  - `clustered`: the corpus WITH its cluster assignment (an
    *    [[graft.ops.Ann.IvfIndex]]'s `clustered` frame — id, payload?,
    *    the stored vector column, `cluster`), written
    *    `partitionBy(cluster)`: one shuffle at build time buys
    *    every query reading nprobe/nlist of the corpus;
    *  - `centroids`: the model table (`cluster`, `centroid`), sealed in
    *    the STORE row layout (id = zero-padded cluster so string order
    *    is numeric order, vector = centroid as float — exact for
    *    seed-point centroids; Lloyd's-refined centroids round to float,
    *    which only perturbs probe choice at decision boundaries).
    *
    * Vectors are narrowed to array<float> — the layout contract — so
    * stored bytes and scores are identical whether a row is read from
    * the primary files or a cluster partition.
    */
  def writeIvfSidecar(clustered: DataFrame, centroids: DataFrame,
                      dir: String, field: String,
                      vectorColumn: String = "vector"): Unit = {
    import org.apache.spark.sql.functions.{format_string, lit}
    import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
    clustered
      .withColumn(vectorColumn, col(vectorColumn).cast(ArrayType(FloatType)))
      // co-locate each cluster into ONE shuffle partition before the
      // partitioned write: without this, partitionBy fans every upstream
      // partition across every cluster directory and a probe pays
      // O(shuffle.partitions) file opens per cluster — measured 2x
      // SLOWER than brute force at 8x corpus growth in the storeivf
      // probe. One file per cluster is right until a cluster outgrows a
      // task; then pre-split by a salted key sized to the target file
      // size (the standard partitioned-write knob), not by accident.
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$dir/_ivf/points")
    centroids.select(
        format_string("%05d", col("cluster")).as("id"),
        lit(null).cast(StringType).as("payload"),
        col("centroid").cast(ArrayType(FloatType)).as(vectorColumn))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_ivf/centroids")
    // a rebuild re-absorbs everything the incremental path appended —
    // watermark and tombstones reset to the fresh build. Flags clear
    // BEFORE the marker writes: the marker is the COMMIT point (a crash
    // before it leaves the sidecar invisible/parked, never a fresh
    // marker shadowed by stale tombstones that would mask live ids).
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_ivf/inserted.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_ivf/dead.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_ivf/absorbed.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_ivf/absorbed_parts.txt")): Unit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_ivf/field.txt"),
      s"$field\n${logHeadOf(dir)}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** The OPTIMIZER job — qdrant's optimizer re-absorbing the unindexed
    * segment: rebuild every sidecar present under `dir` from the
    * COW-current primary files (which always hold the head state) and
    * re-seal each at the current log head, resetting its overlay tail to
    * empty. Runs as an offline batch job, exactly like the initial
    * sidecar builds:
    *
    *  - payload indexes: one rebuild per `_pidx/k_<key>` (a legacy
    *    root-layout index is rebuilt into the keyed layout and its root
    *    meta retired);
    *  - sparse postings: same field/bucket parameters as the build;
    *  - IVF (+ the int8 codes tier when present): a fresh deterministic
    *    fit at the existing nlist (`maxIter` tunes refinement; 0 = the
    *    seed-point fit the oracle gates mirror).
    *
    * Open stores cache sidecar metadata lazily — REOPEN after optimizing
    * (the same discipline as after a mutation: COW returns fresh
    * instances; optimize is driver-side, so the caller reopens).
    */
  def optimize(spark: org.apache.spark.sql.SparkSession, dir: String,
               ivfMaxIter: Int = 0): Unit = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // primaries only: Spark's parquet listing skips _-prefixed sidecars
    val df = spark.read.parquet(dir)
    val pidxRoot = new java.io.File(s"$dir/_pidx")
    val keyed = Option(pidxRoot.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("k_"))
      .map(_.getAbsolutePath) ++
      (if (new java.io.File(s"$dir/_pidx/meta.txt").isFile) Seq(s"$dir/_pidx")
       else Nil)
    keyed.foreach { base =>
      // the shared parked-reseal slice (crash mid-overwrite retires the
      // index instead of serving half-wiped partitions)
      resealPayloadSidecar(spark, dir, base, Some(df))
      // a legacy root-layout index was rebuilt into k_<key>: retire the
      // root meta so the stale root partitions are never read again
      // (parkedReseal already consumed it — the fresh marker landed in
      // k_<key>, so the parked root copy was simply deleted)
      if (base == s"$dir/_pidx")
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$base/meta.txt")): Unit
    }
    resealGeoSidecar(spark, dir, Some(df))
    resealSparseSidecar(spark, dir, Some(df))
    resealTextSidecar(spark, dir, Some(df))
    resealHnswSidecar(spark, dir, Some(df))
    resealIvfSidecar(spark, dir, ivfMaxIter, Some(df))
  }

  /** Reseal ONE sidecar family from the COW-current primaries, with the
    * dials its meta records — the per-family slice of [[optimize]],
    * shared with the maintenance paths' BULK arm (a batch that rivals
    * the sealed corpus reseals instead of absorbing per-partition).
    * No-ops when the family has no meta.
    */
  private[sources] def resealSparseSidecar(spark: org.apache.spark.sql.SparkSession,
                                           dir: String,
                                           primaries: Option[DataFrame] = None): Unit = {
    val sparseMeta = new java.io.File(s"$dir/_sparse/meta.txt")
    markerLines(sparseMeta).foreach { lines =>
      val df = primaries.getOrElse(spark.read.parquet(dir))
      parkedReseal(sparseMeta) {
        writeSparseSidecar(df, dir, field = lines(0),
          nBuckets = lines(1).toInt)
      }
    }
  }

  private[sources] def resealGeoSidecar(spark: org.apache.spark.sql.SparkSession,
                                        dir: String,
                                        primaries: Option[DataFrame] = None): Unit = {
    val geoMeta = new java.io.File(s"$dir/_gidx/meta.txt")
    markerLines(geoMeta).foreach { lines =>
      val df = primaries.getOrElse(spark.read.parquet(dir))
      parkedReseal(geoMeta) {
        writeGeoSidecar(df, dir, key = lines(0), bits = lines(1).toInt)
      }
    }
  }

  private[sources] def resealTextSidecar(spark: org.apache.spark.sql.SparkSession,
                                         dir: String,
                                         primaries: Option[DataFrame] = None): Unit = {
    val textMeta = new java.io.File(s"$dir/_tidx/meta.txt")
    markerLines(textMeta).foreach { lines =>
      val df = primaries.getOrElse(spark.read.parquet(dir))
      parkedReseal(textMeta) {
        writeTextSidecar(df, dir, key = lines(0),
          nBuckets = lines(1).toInt)
      }
    }
  }

  private[sources] def resealHnswSidecar(spark: org.apache.spark.sql.SparkSession,
                                         dir: String,
                                         primaries: Option[DataFrame] = None): Unit = {
    val hnswMeta = new java.io.File(s"$dir/_hnsw/field.txt")
    markerLines(hnswMeta).foreach { l =>
      val df = primaries.getOrElse(spark.read.parquet(dir))
      val vecCol = if (df.columns.contains(l(0))) l(0) else "vector"
      val kind = if (l.length > 7 && l(7).nonEmpty) l(7) else "dense"
      val hadCodes = new java.io.File(s"$dir/_hnsw/codes").isDirectory
      parkedReseal(hnswMeta) {
        if (kind == "multi") {
          writeMultiHnswSidecar(df.filter(col(vecCol).isNotNull), dir,
            field = l(0), multiColumn = vecCol, m = l(2).toInt,
            efConstruction = l(3).toInt, numSegments = l(4).toInt,
            seed = l(5).toLong)
          if (hadCodes)
            writeMultiHnswQuantizedSidecar(
              df.filter(col(vecCol).isNotNull), dir, multiColumn = vecCol)
        } else {
          writeHnswSidecar(df.filter(col(vecCol).isNotNull), dir,
            field = l(0), vectorColumn = vecCol, m = l(2).toInt,
            efConstruction = l(3).toInt, numSegments = l(4).toInt,
            seed = l(5).toLong,
            metric = if (l.length > 6 && l(6).nonEmpty) l(6) else "cosine")
          if (hadCodes)
            writeHnswQuantizedSidecar(df.filter(col(vecCol).isNotNull), dir,
              vectorColumn = vecCol)
        }
      }
    }
  }

  private[sources] def resealIvfSidecar(spark: org.apache.spark.sql.SparkSession,
                                        dir: String, ivfMaxIter: Int = 0,
                                        primaries: Option[DataFrame] = None): Unit = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val ivfMeta = new java.io.File(s"$dir/_ivf/field.txt")
    markerLines(ivfMeta).foreach { lines =>
      val field = lines(0)
      val df = primaries.getOrElse(spark.read.parquet(dir))
      val vecCol = if (df.columns.contains(field)) field else "vector"
      val nlist = spark.read.parquet(s"$dir/_ivf/centroids").count().toInt
      // a NAMED field may be subset-populated (hetero collections): the
      // original build fits over rows carrying the field only — match it,
      // else fitCentroids can seed from a null vector / emit null clusters
      val idx = graft.ops.Ann.buildIvf(
        df.filter(col(vecCol).isNotNull)
          .withColumn(vecCol, col(vecCol).cast(ArrayType(DoubleType))),
        "id", vecCol, nlist = nlist, maxIter = ivfMaxIter)
      val cols = df.columns.toSeq :+ "cluster"
      val hadCodes = new java.io.File(s"$dir/_ivf/codes").isDirectory
      parkedReseal(ivfMeta) {
        writeIvfSidecar(idx.clustered.select(cols.map(col): _*),
          idx.centroids, dir, field = field, vectorColumn = vecCol)
        if (hadCodes)
          writeIvfQuantizedSidecar(
            idx.clustered.select(col("id"), col(vecCol), col("cluster")),
            dir, vectorColumn = vecCol)
      }
      idx.clustered.unpersist(): Unit
    }
  }

  /** Reseal ONE keyed payload index (`base` = `_pidx/k_<key>` dir) from
    * the COW-current primaries — the pidx slice of [[optimize]], shared
    * with [[ParquetCollectionStore.payloadMaintainer]]'s bulk arm.
    */
  private[sources] def resealPayloadSidecar(spark: org.apache.spark.sql.SparkSession,
                                            dir: String, base: String,
                                            primaries: Option[DataFrame] = None): Unit = {
    val meta = new java.io.File(s"$base/meta.txt")
    markerLines(meta).foreach { lines =>
      val covered =
        if (lines.length > 2 && lines(2).nonEmpty) lines(2).split(",").toSeq
        else Nil
      val df = primaries.getOrElse(spark.read.parquet(dir))
      parkedReseal(meta) {
        writePayloadSidecar(
          df.select((Seq("id", "payload") ++ covered).map(col): _*),
          dir, key = lines(0), kind = lines(1))
      }
    }
  }

  /** Conditions the geo-cell sidecar prunes for. */
  private[sources] val GeoSidecarOps: Set[String] =
    Set("geo_radius", "geo_box", "geo_polygon")

  /** Conservative cell cover of a geo condition's matching region —
    * sorted, duplicate-free. Box covers exactly ([[graft.ops.Geo
    * .coverCells]]' pinned property, antimeridian wrap included);
    * radius and polygon cover through their bounding boxes (a SUPERSET:
    * the exact predicate re-evaluates inside, so over-coverage costs IO
    * only). The radius box uses 110 km/degree — slightly under the true
    * meridian degree, so the degree window over-covers, never under.
    */
  private[sources] def geoCover(cond: PayloadCondition, bits: Int): Seq[Long] = {
    val a = cond.value.split(",").map(_.trim.toDouble)
    cond.op match {
      case "geo_box" =>
        // top, left, bottom, right (left > right = antimeridian wrap)
        graft.ops.Geo.coverCells(a(2), a(0), a(1), a(3), bits)
      case "geo_radius" =>
        val (lat, lon, m) = (a(0), a(1), a(2))
        val dLat = m / 110000.0
        val south = math.max(-90.0, lat - dLat)
        val north = math.min(90.0, lat + dLat)
        // the tightest cosine on the latitude band decides the lon span;
        // near the poles (or a span >= 360) fall back to the full ring
        val cosMin = math.cos(math.toRadians(
          math.min(90.0, math.max(math.abs(south), math.abs(north)))))
        val dLon = if (cosMin <= 1e-9) 360.0 else m / (110000.0 * cosMin)
        if (dLon >= 180.0 || lon - dLon < -180.0 || lon + dLon > 180.0)
          graft.ops.Geo.coverCells(south, north, -180.0, 180.0, bits)
        else
          graft.ops.Geo.coverCells(south, north, lon - dLon, lon + dLon, bits)
      case "geo_polygon" =>
        val lats = a.indices.collect { case i if i % 2 == 0 => a(i) }
        val lons = a.indices.collect { case i if i % 2 == 1 => a(i) }
        graft.ops.Geo.coverCells(lats.min, lats.max, lons.min, lons.max, bits)
      case other =>
        throw new IllegalArgumentException(s"not a geo condition: $other")
    }
  }

  /** Lay a geo-cell sidecar under `dir/_gidx`: the collection
    * partitioned by the [[graft.ops.Geo.cellCol]] Morton cell of payload
    * key `key`'s `{lat, lon}` object, one file per cell (the sidecar
    * co-location discipline), rows without a castable lat AND lon
    * DROPPED — they can never match a geo condition. Include the vector
    * columns (a COVERING index) so a geo-filtered search serves entirely
    * from the cell partitions. `bits` sets resolution: 2^bits x 2^bits
    * grid cells over the globe.
    */
  def writeGeoSidecar(df: DataFrame, dir: String, key: String,
                      bits: Int = 6): Unit = {
    import org.apache.spark.sql.functions.expr
    val base = s"$dir/_gidx"
    val lat = expr(
      s"cast(get_json_object(payload, '$$.$key.lat') as double)")
    val lon = expr(
      s"cast(get_json_object(payload, '$$.$key.lon') as double)")
    df.withColumn("__lat", lat).withColumn("__lon", lon)
      .filter(col("__lat").isNotNull && col("__lon").isNotNull)
      .withColumn("cell",
        graft.ops.Geo.cellCol(col("__lat"), col("__lon"), bits))
      .drop("__lat", "__lon")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$base/points")
    val covered = df.columns.filterNot(Set("id", "payload")).mkString(",")
    // a rebuild re-absorbs everything the incremental path appended;
    // flags clear BEFORE the marker — the marker is the commit point
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/inserted.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/dead.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/absorbed.txt")): Unit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/meta.txt"),
      s"$key\n$bits\n$covered\n${logHeadOf(dir)}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Token -> bucket: Java String.hashCode (a stable, documented hash),
    * floor-mod into nBuckets. Used identically at write (via the
    * sidecar builder's closure) and at read, so a query token's bucket
    * is a driver-side computation, never a scan.
    */
  private[sources] def tokenBucket(t: String, nBuckets: Int): Int =
    java.lang.Math.floorMod(t.hashCode, nBuckets)

  /** Lay a full-text sidecar under `dir/_tidx`: one (id, token) posting
    * per DISTINCT case-folded whitespace token of payload key `key`'s
    * string value (THE row path's tokenizer — PayloadCondition's
    * match_text convention), partitioned by [[tokenBucket]] and
    * co-located one file per bucket. Rows without a string value under
    * the key carry no postings — they can never match a text condition.
    */
  def writeTextSidecar(df: DataFrame, dir: String, key: String,
                       nBuckets: Int = 16): Unit = {
    import org.apache.spark.sql.functions.{count, explode, expr, lit, size, sum, udf, when}
    import org.apache.spark.sql.types.LongType
    val base = s"$dir/_tidx"
    val toks = expr(
      s"filter(split(lower(get_json_object(payload, " +
        s"'$$.$key')), '\\\\s+'), t -> t != '')")
    val bucketOf = udf((t: String) =>
      tokenBucket(t, nBuckets)) // offline batch job: a UDF is fine here
    // postings carry tf + denormalized dl (Lucene's norm-in-posting
    // layout) so a RANKED serve scores from the pruned buckets alone
    df.select(col("id"), toks.as("__toks"))
      .withColumn("dl", when(col("__toks").isNull, lit(0L))
        .otherwise(size(col("__toks")).cast(LongType)))
      .select(col("id"), col("dl"), explode(col("__toks")).as("token"))
      .groupBy(col("id"), col("token"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", bucketOf(col("token")))
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$base/points")
    // corpus stats (N docs, Σ tokens) — points WITHOUT the key count
    // toward N with dl 0, exactly like the engine-side corpusStats
    val st = df.select(when(toks.isNull, lit(0L))
        .otherwise(size(toks).cast(LongType)).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head()
    val totalTokens = if (st.isNullAt(1)) 0L else st.getLong(1)
    // a rebuild re-absorbs everything the incremental path appended —
    // watermark, tombstones, and the live-stats override reset to the
    // fresh build (the meta's stats line is current again); flags clear
    // BEFORE the marker — the marker is the commit point
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/inserted.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/dead.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/stats.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/absorbed.txt")): Unit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/meta.txt"),
      s"$key\n$nBuckets\n${logHeadOf(dir)}\n${st.getLong(0)} $totalTokens"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Log position a sidecar build seals as its FRESHNESS POINT: the
    * current changelog head when `dir` carries one, 0 otherwise (an
    * un-logged store cannot mutate, so its sidecars never go stale).
    * Serving overlays the log tail past this position — masked ids
    * dropped, upserted points merged in-memory — so sidecar-served
    * reads stay EXACT between index rebuilds (qdrant's
    * unindexed-segment model); the offline rebuild re-absorbs the tail.
    */
  private def logHeadOf(dir: String): Long = {
    val ld = new java.io.File(s"$dir/_log")
    if (ld.isDirectory) ParquetLog.head(ld) else 0L
  }

  /** Lay the QUANTIZED candidate tier beside the IVF sidecar
    * (`dir/_ivf/codes`): per-cluster int8 codes files — (id, codes,
    * scale), [[graft.ops.Quant]]'s symmetric per-vector scheme over the
    * float-narrowed stored vector — co-located one shuffle partition per
    * cluster like the full-precision replica. A store opened with
    * `ivfNprobe > 0` AND `ivfCandidateK > 0` then serves pushed dot
    * top-k in two pruned stages: approximate candidates from the ~4x
    * smaller codes files of the probed clusters, exact rerank fetching
    * only the winners from the full-precision cluster partitions — the
    * reference backend's scalar-quantization storage tier
    * (qdrant's `quantization_config: scalar int8`) at the store seam.
    */
  def writeIvfQuantizedSidecar(clustered: DataFrame, dir: String,
                               vectorColumn: String = "vector"): Unit = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    graft.ops.Quant.quantizeColumn(
        clustered.withColumn(vectorColumn,
          col(vectorColumn).cast(ArrayType(FloatType))),
        vectorColumn, "v8")
      .filter(col("v8_codes").isNotNull)
      .select(col("id"), col("v8_codes").as("codes"),
        col("v8_scale").as("scale"), col("cluster"))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$dir/_ivf/codes")
  }

  /** Lay a sparse postings sidecar under `dir/_sparse` so a pushed
    * SPARSE top-k on `field` serves bucket-pruned: one posting row per
    * (dim, id, value) via [[graft.ops.SparseIndex.buildPostings]],
    * written `partitionBy(db)` with `db = dim % nBuckets` and each
    * bucket co-located into one shuffle partition (the sidecar
    * co-location discipline — a query opens |query-dim buckets| files,
    * not |shuffle partitions| x that). `df` must carry `id` and the
    * field's `{name}_indices`/`{name}_values` columns.
    */
  /** Lay an insertion-order HNSW sidecar under `dir/_hnsw` so a store
    * opened with `hnswEf > 0` serves pushed cosine top-k on `field`
    * GRAPH-WALKED, per segment:
    *
    *  - `points`: the corpus re-laid-out `partitionBy(seg)` in the
    *    store row layout (vectors float-narrowed — the layout contract:
    *    the walk scores the same bytes the store returns), one file per
    *    segment (the co-location discipline [[writeIvfSidecar]]
    *    documents);
    *  - `edges`: [[graft.ops.Ann.buildHnsw]]'s adjacency, partitioned
    *    by the SAME seeded segment hash — one sequential insertion-order
    *    graph per segment, the reference backend's per-shard HNSW
    *    model.
    *
    * The meta records the build dials, so [[optimize]] reseals the
    * graph from the COW-current primaries with identical parameters.
    */
  def writeHnswSidecar(df: DataFrame, dir: String, field: String,
                       vectorColumn: String = "vector", m: Int = 16,
                       efConstruction: Int = 64, numSegments: Int = 4,
                       seed: Long = 42L, metric: String = "cosine"): Unit = {
    require(SearchSpec.Metrics(metric),
      s"unsupported HNSW metric '$metric'")
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val narrowed = df
      .withColumn(vectorColumn, col(vectorColumn).cast(ArrayType(FloatType)))
    narrowed
      .withColumn("seg",
        graft.ops.HnswSegment.segCol(col("id"), numSegments, seed))
      .repartition(col("seg"))
      .write.mode("overwrite").partitionBy("seg")
      .parquet(s"$dir/_hnsw/points")
    // the graph is built over the SAME float-narrowed values the
    // partitions store (cast back to double for the build arithmetic)
    graft.ops.Ann.buildHnsw(
        narrowed.select(col("id"),
          col(vectorColumn).cast(ArrayType(DoubleType)).as(vectorColumn)),
        "id", vectorColumn, m = m, efConstruction = efConstruction,
        numSegments = numSegments, seed = seed, metric = metric)
      .repartition(col("seg"))
      .write.mode("overwrite").partitionBy("seg")
      .parquet(s"$dir/_hnsw/edges")
    // a rebuild re-absorbs everything the incremental path had appended
    // — the insert watermark resets to the fresh build position and the
    // tombstoned ghosts are reclaimed (the rebuild never saw them).
    // The codes tier is invalidated (ids/segments changed) —
    // [[writeHnswQuantizedSidecar]] re-lays it when the tier is wanted
    // (the reseal paths do this automatically). Flags clear BEFORE the
    // marker writes — the marker is the commit point.
    deleteTree(new java.io.File(s"$dir/_hnsw/codes"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_hnsw/inserted.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_hnsw/dead.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_hnsw/absorbed.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_hnsw/absorbed_parts.txt")): Unit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_hnsw/field.txt"),
      s"$field\n${logHeadOf(dir)}\n$m\n$efConstruction\n$numSegments\n$seed\n$metric"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Lay the QUANTIZED walk tier beside the HNSW sidecar
    * (`dir/_hnsw/codes`): per-segment int8 codes files — (id, codes,
    * scale), [[graft.ops.Quant]]'s symmetric per-vector scheme over the
    * float-narrowed stored vector — partitioned by the SAME seeded
    * segment hash as the points and edges (dials read from the meta, so
    * call AFTER [[writeHnswSidecar]]). A store opened with `hnswEf > 0`
    * AND `hnswCandidateK > 0` then WALKS the per-segment graphs over
    * the codes (~8x fewer resident bytes than the double-precision
    * vector cache) and exact-rescores only the candidate margin from
    * the full-precision segment partitions — the backend's headline
    * memory configuration: quantized-in-RAM graph traversal +
    * full-precision rescore (qdrant's `quantization_config` under HNSW,
    * /root/reference/tests/bin/config.yaml:217-219).
    */
  def writeHnswQuantizedSidecar(df: DataFrame, dir: String,
                                vectorColumn: String = "vector"): Unit = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val l = markerLines(new java.io.File(s"$dir/_hnsw/field.txt")).get
    val (numSegments, seed) = (l(4).toInt, l(5).toLong)
    graft.ops.Quant.quantizeColumn(
        df.withColumn(vectorColumn,
          col(vectorColumn).cast(ArrayType(FloatType))),
        vectorColumn, "v8")
      .filter(col("v8_codes").isNotNull)
      .select(col("id"), col("v8_codes").as("codes"),
        col("v8_scale").as("scale"))
      .withColumn("seg",
        graft.ops.HnswSegment.segCol(col("id"), numSegments, seed))
      .repartition(col("seg"))
      .write.mode("overwrite").partitionBy("seg")
      .parquet(s"$dir/_hnsw/codes")
  }

  /** Lay a MULTI-VECTOR (late-interaction) HNSW sidecar under
    * `dir/_hnsw`: each point's vector set MEAN-POOLS into one dense key,
    * the per-segment graphs build over the pooled keys under DOT (the
    * candidate-stage surrogate — pooled(doc)·pooled(query) is the mean
    * of the pairwise dots), and the segment partitions carry the FULL
    * rows (multi column included) so the exact MaxSim rescore of the
    * candidate margin never opens a primary file. The backend builds
    * HNSW over multivectors with the MaxSim comparator
    * (/root/reference/tests/e2e.rs:142-147); pooled-key candidates +
    * exact-margin rescore is that architecture at the store seam.
    * Points with an absent or EMPTY vector set are dropped — they
    * MaxSim-score 0.0 against any query ([[SearchSpec.meanPool]]).
    */
  def writeMultiHnswSidecar(df: DataFrame, dir: String, field: String,
                            multiColumn: String = "multi", m: Int = 16,
                            efConstruction: Int = 64, numSegments: Int = 4,
                            seed: Long = 42L): Unit = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val narrowed = df
      .withColumn(multiColumn,
        col(multiColumn).cast(ArrayType(ArrayType(FloatType))))
      .filter(col(multiColumn).isNotNull &&
        expr(s"size($multiColumn) > 0"))
    narrowed
      .withColumn("seg",
        graft.ops.HnswSegment.segCol(col("id"), numSegments, seed))
      .repartition(col("seg"))
      .write.mode("overwrite").partitionBy("seg")
      .parquet(s"$dir/_hnsw/points")
    // the pooled keys, computed engine-side in the SAME row order the
    // scala meanPool uses (zip_with row-fold, double accumulation)
    val pooled = narrowed.select(col("id"),
      pooledExpr(multiColumn).as("__pooled"))
    graft.ops.Ann.buildHnsw(pooled, "id", "__pooled", m = m,
        efConstruction = efConstruction, numSegments = numSegments,
        seed = seed, metric = "dot")
      .repartition(col("seg"))
      .write.mode("overwrite").partitionBy("seg")
      .parquet(s"$dir/_hnsw/edges")
    // flags clear BEFORE the marker writes — the marker is the commit
    // point (same discipline as [[writeHnswSidecar]])
    deleteTree(new java.io.File(s"$dir/_hnsw/codes"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_hnsw/inserted.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_hnsw/dead.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_hnsw/absorbed.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_hnsw/absorbed_parts.txt")): Unit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_hnsw/field.txt"),
      s"$field\n${logHeadOf(dir)}\n$m\n$efConstruction\n$numSegments\n$seed\ndot\nmulti"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** The pooled-key SQL form — engine-side mean pooling in the SAME
    * row-fold order as [[SearchSpec.meanPool]] (double accumulation,
    * divide by the set size), shared by the multi graph build and its
    * codes tier so both index the identical key.
    */
  private def pooledExpr(multiColumn: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"transform(aggregate($multiColumn, " +
        s"array_repeat(cast(0.0 as double), size($multiColumn[0])), " +
        s"(acc, x) -> zip_with(acc, x, (a, b) -> a + cast(b as double))), " +
        s"a -> a / size($multiColumn))")

  /** Lay the QUANTIZED walk tier beside a MULTI-VECTOR HNSW sidecar
    * (`dir/_hnsw/codes`): per-segment int8 codes of the MEAN-POOLED
    * keys — the same pooled form the graphs index, float-narrowed then
    * quantized with [[graft.ops.Quant]]'s symmetric per-vector scheme —
    * partitioned by the SAME seeded segment hash (dials read from the
    * meta, so call AFTER [[writeMultiHnswSidecar]]). A store opened
    * with `hnswEf > 0` AND `hnswCandidateK > 0` then walks the pooled
    * graphs over the codes (1 byte/dim resident vs 8 — the dense tier's
    * memory win, which matters MOST for late-interaction corpora: their
    * full rows are the fattest per point) and the exact MaxSim rescore
    * of the candidate margin is unchanged — the backend's
    * quantized-HNSW memory configuration applied to its multivector
    * comparator (/root/reference/tests/bin/config.yaml:217-219 beside
    * tests/e2e.rs:142-147).
    */
  def writeMultiHnswQuantizedSidecar(df: DataFrame, dir: String,
                                     multiColumn: String = "multi"): Unit = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val l = markerLines(new java.io.File(s"$dir/_hnsw/field.txt")).get
    val (numSegments, seed) = (l(4).toInt, l(5).toLong)
    val narrowed = df
      .withColumn(multiColumn,
        col(multiColumn).cast(ArrayType(ArrayType(FloatType))))
      .filter(col(multiColumn).isNotNull &&
        expr(s"size($multiColumn) > 0"))
    graft.ops.Quant.quantizeColumn(
        narrowed.select(col("id"),
          pooledExpr(multiColumn).cast(ArrayType(FloatType)).as("__pooled")),
        "__pooled", "v8")
      .filter(col("v8_codes").isNotNull)
      .select(col("id"), col("v8_codes").as("codes"),
        col("v8_scale").as("scale"))
      .withColumn("seg",
        graft.ops.HnswSegment.segCol(col("id"), numSegments, seed))
      .repartition(col("seg"))
      .write.mode("overwrite").partitionBy("seg")
      .parquet(s"$dir/_hnsw/codes")
  }

  def writeSparseSidecar(df: DataFrame, dir: String, field: String,
                         nBuckets: Int = 16): Unit = {
    graft.ops.SparseIndex.buildPostings(df, "id",
        s"${field}_indices", s"${field}_values", nBuckets)
      .repartition(col("db"))
      .write.mode("overwrite").partitionBy("db")
      .parquet(s"$dir/_sparse/points")
    // a rebuild re-absorbs everything the incremental path appended;
    // flags clear BEFORE the marker — the marker is the commit point
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_sparse/inserted.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_sparse/dead.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_sparse/absorbed.txt")): Unit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_sparse/meta.txt"),
      s"$field\n$nBuckets\n${logHeadOf(dir)}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Selectivity dial for the payload-index pre-filter arm: serve from
    * value partitions only when they hold at most this fraction of the
    * corpus — the same 20% the engine-side [[graft.ops.Planner]] uses
    * (qdrant's `full_scan_threshold` analog).
    */
  val prefilterMaxFraction: Double = 0.2

  /** Filtered-HNSW micro-path dial: a matched set at or under
    * max(4·window, this) scores exactly from the segment partitions
    * instead of walking the graph — the walk's ef widening would touch
    * more vectors than the answer set holds (the backend's
    * below-threshold plain-search arm).
    */
  val hnswFilteredExactMax: Int = 1024

  /** Online-maintenance compaction dial: an ANN partition (HNSW segment
    * / IVF cluster) that has accumulated this many parquet files merges
    * on the NEXT absorbed insert batch — bounding per-query file opens
    * under frequent tiny batches without waiting for the offline
    * optimizer (the standard LSM level-0 cap).
    */
  val incCompactThreshold: Int = 8

  /** Tombstone-set cap for the online ANN maintenance: a delete batch
    * that would push `dead.txt` past this many flags consolidates the
    * deletes (and the accumulated flags) out of their partitions
    * instead — mass deletes and truncates rewrite state once rather
    * than leaving a corpus-sized flag file every serve must load.
    * (`graft.test.deadFlagMax` sysprop: spec seam to exercise the
    * consolidation branch at unit-test scale.)
    */
  val deadFlagMax: Int = 65536

  /** BULK-maintenance dial: an upsert batch whose size, PLUS the inc
    * volume absorbed since the last seal, reaches this fraction of the
    * corpus routes to an offline RESEAL of the sidecar instead of the
    * per-touched-partition absorb — the "bulk loads seal offline"
    * docstring enforced by cost rule rather than trusted to callers. A
    * corpus-sized load trickled through `upsert` (a resync, a reload)
    * thus reseals on a geometric schedule (the absorbed counter resets
    * at each seal): O(log N) reseals, amortized O(N/frac) total work,
    * instead of paying a touched-segment state load per batch.
    * (`graft.bulkMaintainFraction` sysprop; <= 0 disables the arm.)
    */
  val bulkMaintainFraction: Double = 0.5

  private[sources] def bulkMaintainFractionDial: Double =
    sys.props.get("graft.bulkMaintainFraction").map(_.toDouble)
      .getOrElse(bulkMaintainFraction)

  /** Per-PARTITION absorbed counters (`absorbed_parts.txt`: one
    * `key<TAB>count` line per segment/cluster absorbed into since that
    * partition last consolidated) — the HOTSPOT arm of the bulk dial.
    * The corpus-fraction dial above cannot see churn CONCENTRATED in
    * one partition: a segment absorbing its own size in trickled
    * batches pays a graph-state load per batch long before the corpus
    * counter trips. When a partition's absorbed volume plus the current
    * batch reaches `bulkMaintainFraction` of ITS OWN size, the batch
    * consolidates that partition (merging its inc files and reclaiming
    * its ghosts) instead of appending — a geometric schedule per
    * partition, O(log growth) consolidations however skewed the churn.
    * Applies to the ANN families (HNSW segments, IVF clusters), whose
    * per-batch absorb pays a partition state load; the bucket families
    * (text/sparse/geo/pidx) absorb as O(batch) posting appends and keep
    * their file-count dial. Reset per partition by its consolidation,
    * wholesale by any reseal.
    */
  private[graft] def readPartCounters(f: java.io.File): Map[String, Long] =
    if (!f.isFile) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap { l =>
        val i = l.indexOf('\t')
        if (i < 0) None
        else try Some((unescapeFlag(l.substring(0, i)),
          java.lang.Long.parseLong(l.substring(i + 1))))
        catch { case _: NumberFormatException => None } // torn line
      }.toMap

  private[sources] def writePartCounters(f: java.io.File,
                                         m: Map[String, Long]): Unit =
    if (m.isEmpty) { java.nio.file.Files.deleteIfExists(f.toPath): Unit }
    else atomicWriteText(f.toPath,
      m.toSeq.sortBy(_._1)
        .map { case (k, n) => s"${escapeFlag(k)}\t$n" }.mkString("\n"))

  private[sources] def deadFlagMaxDial: Int =
    sys.props.get("graft.test.deadFlagMax").map(_.toInt)
      .getOrElse(deadFlagMax)

  /** Crash-safe small-file write (watermarks, tombstone flags): write a
    * sibling temp file, then atomically rename over the target. A
    * truncating `Files.write` has a torn-write window where a crash
    * leaves an empty or partial file that every subsequent open would
    * choke on; the rename makes the file either the OLD content or the
    * NEW, never garbage.
    */
  private[graft] def atomicWriteText(path: java.nio.file.Path,
                                       content: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".inflight")
    java.nio.file.Files.write(tmp,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try
      java.nio.file.Files.move(tmp, path,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(tmp, path,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  /** Watermark read tolerant of a torn write: an absent OR unparseable
    * `inserted.txt` reads as None (callers fall back to the build
    * position — the sidecar serves with a longer overlay tail and
    * maintenance parks until the next rebuild, instead of every
    * subsequent open throwing NumberFormatException).
    */
  private[graft] def readWatermark(f: java.io.File): Option[Long] =
    if (!f.isFile) None
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      try Some(java.lang.Long.parseLong(s))
      catch { case _: NumberFormatException => None }
    }

  /** Flag-file field escaping: ids (and pidx partition values) are user
    * data and may contain the flag files' own delimiters — a tab inside
    * an id would shift the `value<TAB>id` split, a newline would split
    * one flag into two, and `.trim` on read would eat either at the
    * edges. Percent-escape exactly the metacharacters (`%`, tab, LF,
    * CR); everything else passes through byte-identical.
    */
  private[graft] def escapeFlag(s: String): String = {
    var i = 0
    var clean = true
    while (clean && i < s.length) {
      val c = s.charAt(i)
      if (c == '%' || c == '\t' || c == '\n' || c == '\r') clean = false
      i += 1
    }
    if (clean) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8)
      i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '%'  => sb.append("%25")
          case '\t' => sb.append("%09")
          case '\n' => sb.append("%0A")
          case '\r' => sb.append("%0D")
          case c    => sb.append(c)
        }
        i += 1
      }
      sb.toString
    }
  }

  /** Inverse of [[escapeFlag]], tolerant of PRE-ESCAPING legacy lines:
    * a literal `%` not followed by two hex digits (a flag written before
    * escaping existed) emits verbatim instead of throwing — the same
    * tolerant-read discipline as [[readWatermark]], so one legacy line
    * can never crash every subsequent open of the store.
    */
  private[graft] def unescapeFlag(s: String): String =
    if (s.indexOf('%') < 0) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        val hi = if (c == '%' && i + 3 <= s.length)
          Character.digit(s.charAt(i + 1), 16) else -1
        val lo = if (hi >= 0) Character.digit(s.charAt(i + 2), 16) else -1
        if (lo >= 0) { sb.append((hi * 16 + lo).toChar); i += 3 }
        else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Payload-index tombstone file: one `value<TAB>id` line per flag,
    * both fields [[escapeFlag]]-escaped (values and ids are user data).
    * Tab-less lines (legacy / torn) are skipped rather than crashing
    * every subsequent open.
    */
  private[sources] def readValueIdFlags(f: java.io.File): Map[String, Set[String]] =
    if (!f.isFile) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap { l =>
        val i = l.indexOf('\t')
        if (i < 0) None
        else Some((unescapeFlag(l.substring(0, i)),
          unescapeFlag(l.substring(i + 1))))
      }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** Live (nDocs, totalTokens) override written by the text-index
    * maintenance — absent/torn reads as None (fall back to the meta).
    */
  private[graft] def readTextStats(f: java.io.File): Option[(Long, Long)] =
    if (!f.isFile) None
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.split(" ")
      try
        if (s.length < 2) None
        else Some((java.lang.Long.parseLong(s(0)),
          java.lang.Long.parseLong(s(1))))
      catch { case _: NumberFormatException => None }
    }

  /** HNSW/IVF tombstone file: one [[escapeFlag]]-escaped id per line. */
  private[sources] def readIdFlags(f: java.io.File): Set[String] =
    if (!f.isFile) Set.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map(unescapeFlag).toSet

  /** Run `work` — a sidecar partition rewrite with a wipe-then-rewrite
    * window — with the sidecar's marker file PARKED (renamed aside). A
    * crash (or throw) mid-rewrite leaves the marker parked: the sidecar
    * is invisible to every subsequent open, serves fall back to the
    * exact primary files (slower, never wrong), and the next offline
    * rebuild rewrites the marker and reseals. Without this, a crash
    * between wipe() and the replacement write silently loses
    * previously-indexed rows while the watermark still claims currency —
    * the overlay tail never re-covers them.
    */
  private[sources] def withParkedMarker[A](marker: java.io.File)(work: => A): A = {
    val parked = new java.io.File(marker.getParentFile,
      marker.getName + ".parked")
    java.nio.file.Files.move(marker.toPath, parked.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    val out = work // a throw leaves the marker parked — by design
    java.nio.file.Files.move(parked.toPath, marker.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    out
  }

  /** Run a full-sidecar RESEAL — a `mode(overwrite)` partition rewrite
    * whose `work` ends by writing a FRESH marker itself — with the OLD
    * marker parked for the duration. A crash (or throw) mid-overwrite
    * leaves the marker parked: the half-wiped sidecar is invisible to
    * every subsequent open and serves fall back to the exact primaries,
    * instead of the old marker + old watermark silently claiming
    * currency over partially rewritten partitions (the bulk-maintenance
    * arm routes ORDINARY online upserts here, so this window is a
    * serving-path hazard, not just an offline-job one). On completion
    * the parked copy is DELETED — unlike [[withParkedMarker]], which
    * restores it, because the reseal's own fresh marker is the new
    * truth. No-marker dirs (first build) run unparked: there is nothing
    * stale to claim currency.
    */
  private[graft] def parkedReseal(marker: java.io.File)(work: => Unit): Unit =
    if (!marker.isFile) work
    else {
      val parked = new java.io.File(marker.getParentFile,
        marker.getName + ".parked")
      java.nio.file.Files.move(marker.toPath, parked.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      work // writes the fresh marker; a throw leaves the old one parked
      java.nio.file.Files.deleteIfExists(parked.toPath): Unit
    }

  /** The node key a point contributes to an HNSW sidecar of `kind`:
    * its own vector (dense graphs) or the mean-pooled form of its
    * vector set (multi graphs — [[SearchSpec.meanPool]]). Shared by the
    * serve-side segment loader and the maintenance paths so an absorbed
    * insert walks exactly like a built one.
    */
  private[sources] def pooledVector(kind: String, field: String,
                                    p: Point): Option[Array[Double]] =
    if (kind == "multi") p.multi.get(field).flatMap(SearchSpec.meanPool)
    else p.dense.get(field).map(_.map(_.toDouble))

  private[sources] def deleteTree(d: java.io.File): Unit =
    if (d.exists()) {
      Option(d.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
      d.delete(): Unit
    }

  /** Per-vector symmetric int8 codes — the engine kernel's exact
    * arithmetic ([[graft.functions.QuantKernel]]: scale =
    * float32(absMax/127), HALF_UP rounding), shared by the IVF and
    * HNSW code tiers' online maintenance so an absorbed insert's codes
    * row is byte-identical to what the offline builder writes.
    */
  private[sources] def int8Codes(v: Array[Float]): (Array[Byte], Float) = {
    var absMax = 0.0
    var i = 0
    while (i < v.length) {
      val x = math.abs(v(i).toDouble); if (x > absMax) absMax = x; i += 1
    }
    val scaleF = (absMax / 127.0).toFloat
    val codes = new Array[Byte](v.length)
    if (scaleF > 0f) {
      i = 0
      while (i < v.length) {
        val x = v(i).toDouble / scaleF.toDouble
        codes(i) =
          (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toByte
        i += 1
      }
    }
    (codes, scaleF)
  }

  /** A sidecar marker's trimmed lines; None when it is absent (never
    * built, or parked by a crashed rewrite).
    */
  private[sources] def markerLines(marker: java.io.File): Option[Array[String]] =
    if (!marker.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(marker.toPath),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").map(_.trim))

  /** The log position a sidecar under `base` is CURRENT up to: the
    * build's position (marker line `buildLine`) advanced by the
    * maintenance watermark (`inserted.txt`, reset by every rebuild).
    * -1 = a legacy marker without a build position: it serves as-is and
    * never maintains.
    */
  private[sources] def appliedAt(base: java.io.File, lines: Array[String],
                                 buildLine: Int): Long = {
    val builtAt =
      if (lines.length > buildLine && lines(buildLine).nonEmpty)
        lines(buildLine).toLong
      else -1L
    if (builtAt < 0) builtAt
    else readWatermark(new java.io.File(base, "inserted.txt"))
      .map(math.max(builtAt, _)).getOrElse(builtAt)
  }

  /** The text index's LIVE (nDocs, totalTokens): the maintenance
    * override (`_tidx/stats.txt`) when present, else the build's meta
    * line 4; None on a legacy match-only sidecar.
    */
  private[sources] def textStats(dir: String,
                                 lines: Array[String]): Option[(Long, Long)] =
    readTextStats(new java.io.File(s"$dir/_tidx/stats.txt")).orElse {
      if (lines.length > 3 && lines(3).nonEmpty) {
        val p = lines(3).split(" ")
        Some((p(0).toLong, p(1).toLong))
      } else None
    }

  private[sources] def liveSpark: Option[org.apache.spark.sql.SparkSession] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)

  /** A tombstone file's codec: its flags keyed by id (`F` = where the
    * dead copy lives, when the family records it) and their lines in
    * file order.
    */
  private[sources] final case class FlagCodec[F](
      read: java.io.File => Map[String, F],
      lines: Map[String, F] => Seq[String])

  /** HNSW/IVF flags: one id per line. */
  private[sources] val idFlags: FlagCodec[Unit] = FlagCodec(
    readIdFlags(_).iterator.map(_ -> (())).toMap,
    _.keys.toSeq.sorted.map(escapeFlag))

  /** Sparse/text flags: `id<TAB>n,n,...` (the dead copy's dims or token
    * buckets), by id.
    */
  private[sources] val intListFlags: FlagCodec[Seq[Int]] = FlagCodec(
    readIntListFlags,
    _.toSeq.sortBy(_._1).map { case (id, ns) =>
      s"${escapeFlag(id)}\t${ns.mkString(",")}"
    })

  /** Geo/payload flags: `value<TAB>id`, by (value, id). */
  private[sources] def valueFlags[V: Ordering](parse: String => V): FlagCodec[V] =
    FlagCodec(
      readValueIdFlags(_).iterator.flatMap { case (v, ids) =>
        val pv = parse(v)
        ids.iterator.map(_ -> pv)
      }.toMap,
      _.toSeq.map(_.swap).sorted.map { case (v, id) =>
        s"${escapeFlag(v.toString)}\t${escapeFlag(id)}"
      })

  private[sources] def parquetFiles(d: java.io.File): IndexedSeq[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty).toIndexedSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Delete one parquet file with its Hadoop `.crc` sibling. */
  private[sources] def dropParquet(f: java.io.File): Unit = {
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    f.delete(): Unit
  }

  /** The LSM level-0 cap: a sidecar partition holding
    * [[incCompactThreshold]] files merges on its next absorbed batch
    * instead of appending another.
    */
  private[sources] def incFull(d: java.io.File, batch: Seq[_]): Boolean =
    batch.nonEmpty && parquetFiles(d).size >= incCompactThreshold

  /** One sidecar partition's write for a batch. CONSOLIDATE: `merged`
    * (the surviving rows plus the batch, read before anything is
    * deleted) replaces every parquet file as one `<seal>-<newHead>`
    * file, and an emptied partition disappears. Otherwise APPEND the
    * batch as one `inc-<newHead>` file.
    */
  private[sources] def rewritePartition[R](d: java.io.File, newHead: Long,
      consolidate: Boolean, batch: Seq[R], seal: String = "pts")(
      merged: => Seq[R])(write: (java.io.File, Seq[R]) => Unit): Unit =
    if (consolidate) {
      val rows = merged
      parquetFiles(d).foreach(dropParquet)
      if (rows.nonEmpty) {
        d.mkdirs()
        write(new java.io.File(d, f"$seal-$newHead%012d.parquet"), rows)
      } else d.delete(): Unit
    } else if (batch.nonEmpty) {
      d.mkdirs()
      write(new java.io.File(d, f"inc-$newHead%012d.parquet"), batch)
    }

  /** An ANN partition's int8 codes rewrite in lockstep with its points:
    * the same drops, the batch's codes added.
    */
  private[sources] def rewriteCodes(d: java.io.File, newHead: Long,
      consolidate: Boolean, gone: Set[String],
      add: Seq[(String, Array[Byte], Float)]): Unit =
    rewritePartition(d, newHead, consolidate, add, "codes")(
      parquetFiles(d).flatMap(f => ParquetLog.readCodeRows(f.getAbsolutePath))
        .filterNot(r => gone(r._1)) ++ add)(ParquetLog.writeCodeRows)

  /** Points in stored id order. */
  private[sources] def byId(pts: Seq[Point]): Seq[Point] =
    pts.sortWith((a, b) => SparkStringOrder.lt(a.id, b.id))

  /** Sparse and text tombstone file: one `id<TAB>n,n,...` line per flag
    * — the dead copy's dims (sparse) or token buckets (text), recorded
    * at flag time so a resurrection consolidates exactly those, never a
    * scan. The id is [[escapeFlag]]-escaped (ids are user data and may
    * contain the delimiters); a line with NO tab — a zero-dim flag whose
    * trailing tab `.trim` stripped, or a legacy file — reads as (id, no
    * dims) instead of crashing every subsequent open.
    */
  private[sources] def readIntListFlags(f: java.io.File): Map[String, Seq[Int]] =
    if (!f.isFile) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val i = l.indexOf('\t')
        if (i < 0) (unescapeFlag(l), Seq.empty[Int])
        else {
          val ds = l.substring(i + 1).split(",").iterator
            .filter(_.nonEmpty).map(_.toInt).toSeq
          (unescapeFlag(l.substring(0, i)), ds)
        }
      }.toMap

  /** Lay a payload-index sidecar under `dir/_pidx/k_<key>`: the
    * collection value-partitioned by top-level payload key `key` (`kind`
    * = `int` | `keyword`), one file per value (the co-location
    * discipline [[writeIvfSidecar]] documents), null/absent values
    * DROPPED — rows without the key can never match a servable
    * condition, so they are dead weight in an index whose point is
    * making the filter the access path. Include the vector columns in
    * `df` (a COVERING index) so a pre-filtered search serves entirely
    * from its partitions. Call once PER KEY: each key gets its own
    * index (qdrant's one-index-per-indexed-field model) and a filter
    * touching several indexed keys is planned across them by estimated
    * cardinality.
    */
  def writePayloadSidecar(df: DataFrame, dir: String, key: String,
                          kind: String = "int"): Unit = {
    val base = s"$dir/_pidx/k_$key"
    import org.apache.spark.sql.functions.when
    require(Set("int", "keyword", "datetime", "float", "bool")(kind),
      s"unsupported index kind '$kind'")
    // TYPE-TAGGED extraction: the partition value is the field's RAW
    // JSON scalar form — `"3"` (a string) and `3` (a number) land in
    // DIFFERENT partitions (get_json_object alone coerces both to the
    // bare text '3', the silent-miss hole). The index is therefore
    // type-COMPLETE over scalar values: every row any servable condition
    // can match is in the sidecar, and valuesMatching's typed partition
    // evaluation is sound. Non-scalars (objects, arrays, JSON null) are
    // dropped — the servable ops can never match them. `kind` is kept
    // as declared metadata (the Planner dichotomy); the layout no
    // longer depends on it.
    val raw = org.apache.spark.sql.functions.expr(
      s"to_json(try_variant_get(try_parse_json(payload), '$$.$key'))")
    val value = when(raw.isNotNull && raw =!= "null" &&
      !raw.startsWith("{") && !raw.startsWith("["), raw)
    df.withColumn("value", value).filter(col("value").isNotNull)
      .repartition(col("value"))
      .write.mode("overwrite").partitionBy("value")
      .parquet(s"$base/points")
    // a rebuild re-absorbs everything the incremental path appended —
    // watermark and tombstones reset to the fresh build; flags clear
    // BEFORE the marker — the marker is the commit point
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/inserted.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/dead.txt")): Unit
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/absorbed.txt")): Unit
    // meta line 3: the covered vector columns — the pre-filter search
    // arm serves only fields the sidecar actually carries
    val covered = df.columns.filterNot(Set("id", "payload")).mkString(",")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/meta.txt"),
      s"$key\n$kind\n$covered\n${logHeadOf(dir)}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }
}
