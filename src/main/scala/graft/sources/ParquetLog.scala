package graft.sources

import java.io.File
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.collections.{CollectionDescriptor, DenseField}

/** The parquet store's CHANGE-LOG sidecar (`dir/_log`) — what turns the
  * cold lakehouse backend into a streamable one: an append-only sequence
  * of parquet SEGMENT files, each sealing a contiguous run of
  * [[LogEntry]] positions (upserts carry the full point, deletes are
  * id-only tombstones), named `seg-<start>-<end>.parquet` so a tail
  * replay positions itself from FILENAMES alone — no footer of a
  * compacted-away or non-overlapping segment is ever opened, which is
  * the flat-replay-cost property the in-memory store's
  * `logBase`/`logOf` split provides and Delta/Kafka provide with
  * checkpoint + retained tail. `base.txt` records the compaction point
  * (the first still-replayable position); segments wholly below it are
  * deleted at compaction time, a straddling one is rewritten to its
  * retained suffix, and every retained entry keeps its GLOBAL position
  * so checkpointed CDC readers past the compaction point are
  * undisturbed.
  *
  * The log duplicates upserted bytes (entry = full point), the standard
  * changelog/WAL cost; the manifest alternative (segments referencing
  * immutable primary data files, Delta's add-file actions) would trade
  * that for reference-counting primary rewrites and is noted, not built.
  */
private[sources] object ParquetLog {

  final case class SegMeta(path: String, start: Long, end: Long)

  /** The JVM's Hadoop configuration, parsed once. A fresh
    * `Configuration` parses the default XML resources and searches
    * every jar on the classpath for a site file on first use, which
    * costs more than reading a small file; the copy constructor clones
    * the parsed properties and reads no XML. Every open takes its own
    * copy, so nothing parquet sets on a conf leaks between opens.
    */
  private lazy val loaded: Configuration = {
    val c = new Configuration()
    // this JVM-wide value must not keep the context loader of whichever
    // (task) thread happened to touch it first
    c.setClassLoader(getClass.getClassLoader)
    c.size(): Unit // forces the one parse
    c
  }

  private def conf: Configuration = new Configuration(loaded)

  /** Open one parquet file for reading on a copy of the loaded
    * configuration — the one reader-open path of the store and its
    * sidecars. The read options are built per open and never shared:
    * they carry a codec factory whose decompressors are reused, which
    * concurrent readers of one instance would corrupt.
    */
  def openReader(path: String): ParquetFileReader = {
    val c = conf
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), c),
      HadoopReadOptions.builder(c).build())
  }

  private val SegName = """seg-(\d{20})-(\d{20})\.parquet""".r

  def segFileName(start: Long, end: Long): String =
    f"seg-$start%020d-$end%020d.parquet"

  /** Segment metadata from FILENAMES only, sorted by start position. */
  def segments(logDir: File): Seq[SegMeta] =
    Option(logDir.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case SegName(s, e) => Some(SegMeta(f.getAbsolutePath, s.toLong, e.toLong))
        case _ => None
      }).sortBy(_.start)

  /** Compaction point (first replayable position); 0 until compacted. */
  def base(logDir: File): Long = {
    val f = new File(logDir, "base.txt")
    if (!f.isFile) 0L
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  def writeBase(logDir: File, n: Long): Unit = {
    java.nio.file.Files.write(new File(logDir, "base.txt").toPath,
      n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Log head = one past the last sealed position. */
  def head(logDir: File): Long =
    segments(logDir).lastOption.map(_.end).getOrElse(base(logDir))

  // ------------------------------------------------------------- schema --

  /** The stored row shape of a collection across ALL three vector kinds
    * — dense (float list), sparse (`_indices` int list + `_values`
    * float list), multi (nested float list) — mapping vector FIELD
    * names to their physical columns. One codec drives the segment/
    * primary schema, the Point encode, and the decode, so COW rewrites
    * and changelog entries re-seal every kind, not just dense.
    */
  final case class RowCodec(dense: Seq[(String, String)],
                            sparse: Seq[(String, String, String)],
                            multi: Seq[(String, String)]) {
    def columns: Seq[String] = dense.map(_._2) ++
      sparse.flatMap(s => Seq(s._2, s._3)) ++ multi.map(_._2)
  }

  object RowCodec {
    def fromDescriptor(d: CollectionDescriptor): RowCodec = {
      import graft.collections.{MultiField, SparseField}
      RowCodec(
        d.fields.collect { case DenseField(n, _, _) =>
          n -> (if (d.named) n else "vector") },
        d.fields.collect { case SparseField(n) =>
          (n, s"${n}_indices", s"${n}_values") },
        d.fields.collect { case MultiField(n, _) => n -> n })
    }

    /** Infer the codec from a stored file's SCHEMA (the mirror path —
      * no descriptor in scope): nested list-of-list columns are multi,
      * `X_indices`/`X_values` int/float list pairs are sparse, any
      * other list column is dense. Field name = column name (the mirror
      * re-seals bytes; the store's descriptor re-keys on read).
      */
    def fromMessageType(schema: MessageType): RowCodec = {
      val names = schema.getFields.asScala.map(_.getName)
        .filterNot(Set("id", "payload", "seq", "op")).toSeq
      def isNested(c: String): Boolean = {
        val t = schema.getType(schema.getFieldIndex(c))
        !t.isPrimitive && {
          val rep = t.asGroupType().getType(0)
          !rep.isPrimitive && {
            val el = rep.asGroupType().getType(0)
            !el.isPrimitive // element itself is a list group -> multi
          }
        }
      }
      val sparsePairs = names.filter(_.endsWith("_indices")).flatMap { ic =>
        val base = ic.stripSuffix("_indices")
        if (names.contains(s"${base}_values"))
          Some((base, ic, s"${base}_values"))
        else None
      }
      val sparseCols = sparsePairs.flatMap(s => Seq(s._2, s._3)).toSet
      val rest = names.filterNot(sparseCols)
      val (multiCols, denseCols) = rest.partition(isNested)
      RowCodec(denseCols.map(c => c -> c), sparsePairs,
        multiCols.map(c => c -> c))
    }
  }

  /** Log-segment schema: positions + op + the stored row shape. */
  def logSchema(codec: RowCodec): MessageType =
    withRowFields(
      Types.buildMessage()
        .required(PrimitiveTypeName.INT64).named("seq")
        .required(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("op"),
      codec).named("graft_log")

  /** Primary-file schema (the store row layout, matching what
    * [[ParquetCollectionStore.write]]'s Spark job lays down).
    */
  def primarySchema(codec: RowCodec): MessageType =
    withRowFields(Types.buildMessage(), codec).named("graft_points")

  private def withRowFields(b0: Types.GroupBuilder[MessageType],
                            codec: RowCodec): Types.GroupBuilder[MessageType] = {
    var b = b0
      .required(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("id")
      .optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("payload")
    def floatList(bb: Types.GroupBuilder[MessageType], c: String) =
      bb.optionalGroup().as(LogicalTypeAnnotation.listType())
        .repeatedGroup()
        .optional(PrimitiveTypeName.FLOAT).named("element")
        .named("list")
        .named(c)
    codec.dense.foreach { case (_, c) => b = floatList(b, c) }
    codec.sparse.foreach { case (_, ic, vc) =>
      b = b.optionalGroup().as(LogicalTypeAnnotation.listType())
        .repeatedGroup()
        .optional(PrimitiveTypeName.INT32).named("element")
        .named("list")
        .named(ic)
      b = floatList(b, vc)
    }
    codec.multi.foreach { case (_, c) =>
      b = b.optionalGroup().as(LogicalTypeAnnotation.listType())
        .repeatedGroup()
        .optionalGroup().as(LogicalTypeAnnotation.listType())
        .repeatedGroup()
        .optional(PrimitiveTypeName.FLOAT).named("element")
        .named("list")
        .named("element")
        .named("list")
        .named(c)
    }
    b
  }

  // ------------------------------------------------------------- writing --

  /** Write `groups` as one parquet file ATOMICALLY (tmp + rename), and
    * drop any stale Hadoop `.crc` for the destination (a replaced
    * Spark-written file would otherwise fail checksum on read).
    */
  def writeGroups(dest: File, schema: MessageType,
                  groups: Iterator[Group]): Unit = {
    val tmp = new File(dest.getParentFile,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}-${dest.getName}")
    val c = conf
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(tmp.getAbsolutePath), c))
      .withConf(c).withType(schema).build()
    try groups.foreach(w.write) finally w.close()
    // stale checksum shadows of the tmp name and the destination
    new File(tmp.getParentFile, s".${tmp.getName}.crc").delete()
    new File(dest.getParentFile, s".${dest.getName}.crc").delete()
    java.nio.file.Files.move(tmp.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def floatsInto(g: Group, col: String, vec: Array[Float]): Unit = {
    val outer = g.addGroup(col)
    var i = 0
    while (i < vec.length) {
      outer.addGroup("list").add("element", vec(i)); i += 1
    }
  }

  private def rowInto(g: Group, p: Point, codec: RowCodec): Unit = {
    g.add("id", p.id)
    p.payload.foreach(g.add("payload", _))
    codec.dense.foreach { case (field, cn) =>
      p.dense.get(field).foreach(vec => floatsInto(g, cn, vec))
    }
    codec.sparse.foreach { case (field, ic, vc) =>
      p.sparse.get(field).foreach { case (idx, vals) =>
        val outer = g.addGroup(ic)
        var i = 0
        while (i < idx.length) {
          outer.addGroup("list").add("element", idx(i)); i += 1
        }
        floatsInto(g, vc, vals)
      }
    }
    codec.multi.foreach { case (field, cn) =>
      p.multi.get(field).foreach { vecs =>
        val outer = g.addGroup(cn)
        var i = 0
        while (i < vecs.length) {
          val w = outer.addGroup("list")
          val inner = w.addGroup("element")
          var j = 0
          while (j < vecs(i).length) {
            inner.addGroup("list").add("element", vecs(i)(j)); j += 1
          }
          i += 1
        }
      }
    }
  }

  /** Seal `entries` as ONE log segment at positions [start, start+n). */
  def appendSegment(logDir: File, start: Long, entries: Seq[LogEntry],
                    codec: RowCodec): Long = {
    require(entries.nonEmpty, "empty log segment")
    logDir.mkdirs()
    val end = start + entries.size
    val schema = logSchema(codec)
    val fac = new SimpleGroupFactory(schema)
    val groups = entries.iterator.zipWithIndex.map { case (e, i) =>
      val g = fac.newGroup()
      g.add("seq", start + i)
      g.add("op", e.op)
      rowInto(g, e.point, codec)
      g
    }
    writeGroups(new File(logDir, segFileName(start, end)), schema, groups)
    end
  }

  /** Seal `points` as one PRIMARY store file (COW rewrite unit). */
  def writePrimary(dest: File, points: Seq[Point],
                   codec: RowCodec): Unit = {
    val schema = primarySchema(codec)
    val fac = new SimpleGroupFactory(schema)
    writeGroups(dest, schema, points.iterator.map { p =>
      val g = fac.newGroup()
      rowInto(g, p, codec)
      g
    })
  }

  // ------------------------------------------------------------- reading --

  /** Decode a float-list group value (3-level `list.element` wrappers or
    * 2-level repeated primitives, float or double elements) — the same
    * dispatch as the store's point decode.
    */
  private def decodeFloats(listG: Group): Array[Float] = {
    val inner = listG.getType.getType(0)
    val n = listG.getFieldRepetitionCount(0)
    val arr = new Array[Float](n)
    var i = 0
    if (inner.isPrimitive) {
      val isFloat = inner.asPrimitiveType().getPrimitiveTypeName ==
        PrimitiveTypeName.FLOAT
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
            case PrimitiveTypeName.FLOAT => w.getFloat(0, 0)
            case _ => w.getDouble(0, 0).toFloat
          }
        }
        i += 1
      }
    }
    arr
  }

  /** Decode one group's stored row columns into a Point per `codec`. */
  private def decodePoint(g: Group, schema: MessageType,
                          codec: RowCodec): Point = {
    val id = g.getString("id", 0)
    val payIdx = schema.getFieldIndex("payload")
    val payload =
      if (g.getFieldRepetitionCount(payIdx) == 0) None
      else Some(g.getString(payIdx, 0))
    def present(cn: String): Option[Int] =
      if (!schema.containsField(cn)) None
      else {
        val ci = schema.getFieldIndex(cn)
        if (g.getFieldRepetitionCount(ci) == 0) None else Some(ci)
      }
    val dense = codec.dense.flatMap { case (field, cn) =>
      present(cn).map(ci =>
        field -> decodeFloats(g.getGroup(ci, 0).asInstanceOf[Group]))
    }.toMap
    val sparse = codec.sparse.flatMap { case (field, ic, vc) =>
      for (ii <- present(ic); vi <- present(vc)) yield field -> ((
        decodeInts(g.getGroup(ii, 0).asInstanceOf[Group]),
        decodeFloats(g.getGroup(vi, 0).asInstanceOf[Group])))
    }.toMap
    val multi = codec.multi.flatMap { case (field, cn) =>
      present(cn).map { ci =>
        val outer = g.getGroup(ci, 0).asInstanceOf[Group]
        val n = outer.getFieldRepetitionCount(0)
        val arr = new Array[Array[Float]](n)
        var i = 0
        while (i < n) {
          val w = outer.getGroup(0, i).asInstanceOf[Group]
          arr(i) =
            if (w.getFieldRepetitionCount(0) == 0) Array.empty[Float]
            else decodeFloats(w.getGroup(0, 0).asInstanceOf[Group])
          i += 1
        }
        field -> arr
      }
    }.toMap
    Point(id, payload, dense, multi = multi, sparse = sparse)
  }

  private def decodeInts(listG: Group): Array[Int] = {
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

  /** Stream a whole parquet file's groups (row-group at a time). */
  private def readGroups(path: String)(f: (Group, MessageType) => Unit): Unit = {
    val in = openReader(path)
    try {
      val schema = in.getFooter.getFileMetaData.getSchema
      val colIO = new ColumnIOFactory().getColumnIO(schema)
      var pages = in.readNextRowGroup()
      while (pages != null) {
        val rr = colIO.getRecordReader(pages, new GroupRecordConverter(schema))
        val n = pages.getRowCount
        var i = 0L
        while (i < n) { f(rr.read(), schema); i += 1 }
        pages = in.readNextRowGroup()
      }
    } finally in.close()
  }

  /** Entries of one segment restricted to positions [from, until). */
  def readSegment(path: String, from: Long, until: Long,
                  codec: RowCodec): Seq[LogEntry] = {
    val out = Seq.newBuilder[LogEntry]
    readGroups(path) { (g, schema) =>
      val seq = g.getLong("seq", 0)
      if (seq >= from && seq < until)
        out += LogEntry(g.getString("op", 0),
          decodePoint(g, schema, codec), seq)
    }
    out.result()
  }

  /** All points of one primary/segment-shaped file (COW read side). */
  def readPoints(path: String, codec: RowCodec): Seq[Point] = {
    val out = Seq.newBuilder[Point]
    readGroups(path) { (g, schema) => out += decodePoint(g, schema, codec) }
    out.result()
  }

  /** Rows of one int8-codes file — (id, codes, scale), the quantized
    * candidate tier of the store's IVF sidecar. Codes decode from the
    * Spark tinyint-list layout (3-level list of INT32-stored bytes).
    */
  def readCodeRows(path: String): Seq[(String, Array[Byte], Float)] = {
    val out = Seq.newBuilder[(String, Array[Byte], Float)]
    readGroups(path) { (g, schema) =>
      val id = g.getString("id", 0)
      val scale = g.getFloat(schema.getFieldIndex("scale"), 0)
      val ci = schema.getFieldIndex("codes")
      val codes =
        if (g.getFieldRepetitionCount(ci) == 0) Array.empty[Byte]
        else {
          val listG = g.getGroup(ci, 0).asInstanceOf[Group]
          val n = listG.getFieldRepetitionCount(0)
          val arr = new Array[Byte](n)
          var i = 0
          val inner = listG.getType.getType(0)
          if (inner.isPrimitive) {
            while (i < n) { arr(i) = listG.getInteger(0, i).toByte; i += 1 }
          } else {
            while (i < n) {
              val w = listG.getGroup(0, i).asInstanceOf[Group]
              if (w.getFieldRepetitionCount(0) > 0)
                arr(i) = w.getInteger(0, 0).toByte
              i += 1
            }
          }
          arr
        }
      out += ((id, codes, scale))
    }
    out.result()
  }

  /** Rows of one sparse-postings file — (id, dim, value), the
    * dim-bucketed inverted-index sidecar layout.
    */
  def readPostingRows(path: String): Seq[(String, Int, Double)] = {
    val out = Seq.newBuilder[(String, Int, Double)]
    readGroups(path) { (g, schema) =>
      out += ((g.getString("id", 0),
        g.getInteger(schema.getFieldIndex("dim"), 0),
        g.getDouble(schema.getFieldIndex("v"), 0)))
    }
    out.result()
  }

  /** Seal int8-codes rows as ONE parquet file — the incremental-insert
    * append unit beside the Spark-written codes files (same column
    * names and list shape, so [[readCodeRows]] decodes either writer's
    * files).
    */
  def writeCodeRows(dest: File,
                    rows: Seq[(String, Array[Byte], Float)]): Unit = {
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("id")
      .optionalGroup().as(LogicalTypeAnnotation.listType())
      .repeatedGroup()
      .optional(PrimitiveTypeName.INT32).named("element")
      .named("list")
      .named("codes")
      .required(PrimitiveTypeName.FLOAT).named("scale")
      .named("graft_ivf_codes")
    val fac = new SimpleGroupFactory(schema)
    writeGroups(dest, schema, rows.iterator.map { case (id, codes, scale) =>
      val g = fac.newGroup()
      g.add("id", id)
      val outer = g.addGroup("codes")
      var i = 0
      while (i < codes.length) {
        outer.addGroup("list").add("element", codes(i).toInt); i += 1
      }
      g.add("scale", scale)
      g
    })
  }

  /** Seal HNSW edge rows as ONE parquet file — the incremental-insert
    * append unit beside the Spark-written base edge files (same column
    * names, so [[readEdgeRows]] decodes either writer's files).
    */
  def writeEdgeRows(dest: File, rows: Seq[(Int, String, String)]): Unit = {
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT32).named("level")
      .required(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("src")
      .required(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("nbr")
      .named("graft_hnsw_edges")
    val fac = new SimpleGroupFactory(schema)
    writeGroups(dest, schema, rows.iterator.map { case (lvl, s, t) =>
      val g = fac.newGroup()
      g.add("level", lvl); g.add("src", s); g.add("nbr", t)
      g
    })
  }

  /** Seal sparse posting rows as ONE parquet file — the
    * incremental-insert append unit beside the Spark-written bucket
    * files (same column names, so [[readPostingRows]] decodes either
    * writer's files).
    */
  def writePostingRows(dest: File,
                       rows: Seq[(String, Int, Double)]): Unit = {
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("id")
      .required(PrimitiveTypeName.INT32).named("dim")
      .required(PrimitiveTypeName.DOUBLE).named("v")
      .named("graft_sparse_postings")
    val fac = new SimpleGroupFactory(schema)
    writeGroups(dest, schema, rows.iterator.map { case (id, dim, v) =>
      val g = fac.newGroup()
      g.add("id", id); g.add("dim", dim); g.add("v", v)
      g
    })
  }

  /** One HNSW edge row per (level, src, nbr) — the HNSW sidecar's
    * stored adjacency shape.
    */
  def readEdgeRows(path: String): Seq[(Int, String, String)] = {
    val out = Seq.newBuilder[(Int, String, String)]
    readGroups(path) { (g, schema) =>
      out += ((g.getInteger(schema.getFieldIndex("level"), 0),
        g.getString(schema.getFieldIndex("src"), 0),
        g.getString(schema.getFieldIndex("nbr"), 0)))
    }
    out.result()
  }

  /** One text-index posting row per (id, token) — the text sidecar's
    * stored shape.
    */
  def readTokenRows(path: String): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    readGroups(path) { (g, schema) =>
      out += ((g.getString("id", 0),
        g.getString(schema.getFieldIndex("token"), 0)))
    }
    out.result()
  }

  /** Maintenance-side writer of text posting rows — the SAME field
    * names the Spark-built sidecar files carry (id, token, tf, dl), so
    * [[readTextPostingRows]]/[[readTokenRows]] serve built and absorbed
    * files alike.
    */
  def writeTextPostingRows(dest: File,
                           rows: Seq[(String, String, Long, Long)]): Unit = {
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("id")
      .required(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("token")
      .required(PrimitiveTypeName.INT64).named("tf")
      .required(PrimitiveTypeName.INT64).named("dl")
      .named("graft_text_postings")
    val fac = new SimpleGroupFactory(schema)
    writeGroups(dest, schema, rows.iterator.map { case (id, tok, tf, dl) =>
      val g = fac.newGroup()
      g.add("id", id); g.add("token", tok); g.add("tf", tf); g.add("dl", dl)
      g
    })
  }

  /** Full posting rows (id, token, tf, dl) of a tf/dl-layout text
    * sidecar file — the RANKED full-text serve's read.
    */
  def readTextPostingRows(path: String): Seq[(String, String, Long, Long)] = {
    val out = Seq.newBuilder[(String, String, Long, Long)]
    readGroups(path) { (g, schema) =>
      out += ((g.getString("id", 0),
        g.getString(schema.getFieldIndex("token"), 0),
        g.getLong(schema.getFieldIndex("tf"), 0),
        g.getLong(schema.getFieldIndex("dl"), 0)))
    }
    out.result()
  }

  /** Mirror one PRIMARY file as the log segment sealing its enumeration
    * positions [start, start+rows) as upserts — the initial-ingest
    * changelog entry for that file. Runs executor-side (one task per
    * file) from [[ParquetCollectionStore.write]]: the changelog of a
    * 100 TB ingest is written by the cluster, not the driver.
    */
  def mirrorPrimary(primaryPath: String, logDirPath: String,
                    start: Long): Unit = {
    val logDir = new File(logDirPath)
    logDir.mkdirs()
    // the codec comes from the primary file's OWN schema (columns mirror
    // 1:1 — field name = column name for segment bytes; the store's
    // descriptor re-keys on read)
    val in = openReader(primaryPath)
    val codec = try RowCodec.fromMessageType(
      in.getFooter.getFileMetaData.getSchema) finally in.close()
    val schema = logSchema(codec)
    val fac = new SimpleGroupFactory(schema)
    val pts = readPoints(primaryPath, codec)
    val end = start + pts.size
    writeGroups(new File(logDir, segFileName(start, end)), schema,
      pts.iterator.zipWithIndex.map { case (p, i) =>
        val g = fac.newGroup()
        g.add("seq", start + i)
        g.add("op", LogOps.Upsert)
        rowInto(g, p, codec)
        g
      })
  }

  /** Footer row counts of the primary file sequence -> (path, start
    * position, rows), the enumeration the segment mirror seals.
    */
  def primaryMetas(dir: String): Seq[(String, Long, Long)] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    var start = 0L
    files.toSeq.map { f =>
      val in = openReader(f.getAbsolutePath)
      val rows = try in.getRowGroups.asScala.map(_.getRowCount.toLong).sum
                 finally in.close()
      val m = (f.getAbsolutePath, start, rows)
      start += rows
      m
    }
  }
}
