package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.collections._

/** All six sidecar families on ONE store through one seeded churn
  * script, absorbed by the one maintenance protocol: after every batch
  * each family's watermark is the log head, and at the end the
  * maintained partitions hold exactly what a reseal from the primaries
  * lays down — the live `(partition, id)` set net of dead flags for the
  * families whose partition is a function of the point, the live id
  * set for IVF (a reseal refits its centroids).
  */
class SidecarMaintainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val desc = CollectionDescriptor("c",
    Seq(DenseField("vector", 4), SparseField("sp")))
  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")

  private def vec(seed: Long): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(4)(r.nextGaussian().toFloat)
  }

  private def id(i: Int): String = f"p$i%04d"

  /** Point `i`, version `v`: every version moves its label, text, cell,
    * sparse dims and vector. Some points lack a body (text-keyless), a
    * location (no cell), sparse dims or the vector (never in a graph).
    */
  private def pt(i: Int, v: Int): Point = {
    val r = new java.util.Random(i * 31L + v * 1000003L)
    val body = (0 until 1 + r.nextInt(4)).map(_ => words(r.nextInt(6)))
      .mkString(" ")
    val fields = Seq(Some(s""""label":${r.nextInt(6)}"""),
      if (i % 11 == 0) None else Some(s""""body":"$body""""),
      if (i % 5 == 0) None
      else Some(s""""loc":{"lat":${-40 + r.nextInt(80)}.0,"lon":${-100 + r.nextInt(200)}.0}"""))
    val dims = (0 until 1 + r.nextInt(3)).map(_ => r.nextInt(24)).distinct
      .sorted.toArray
    Point(id(i), Some(fields.flatten.mkString("{", ",", "}")),
      dense = if (i % 17 == 0) Map.empty else Map("vector" -> vec(i * 13L + v)),
      sparse = if (i % 7 == 0) Map.empty
        else Map("sp" -> ((dims, dims.map(d => 1f + d * 0.5f)))))
  }

  /** One label, one cell, one sparse dim, one text bucket, one direction. */
  private def pinned(i: Int): Point = Point(id(i),
    Some("""{"label":2,"body":"alpha","loc":{"lat":10.0,"lon":20.0}}"""),
    dense = Map("vector" -> Array(1f, 1f + 0.001f * i, 0f, 0f)),
    sparse = Map("sp" -> ((Array(3), Array(2f)))))

  private def build(dir: String): Unit = {
    val rows = (0 until 300).map(pt(_, 0)).map { p =>
      Row(p.id, p.payload.orNull, p.dense.get("vector").map(_.toSeq).orNull,
        p.sparse.get("sp").map(_._1.toSeq).orNull,
        p.sparse.get("sp").map(_._2.toSeq).orNull)
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      desc.schema)
    ParquetCollectionStore.write(df, dir, numFiles = 2, withLog = true)
    val withVec = df.filter(col("vector").isNotNull)
    ParquetCollectionStore.writeHnswSidecar(withVec, dir, field = "vector",
      m = 4, efConstruction = 16, numSegments = 2)
    val idx = graft.ops.Ann.buildIvf(
      withVec.withColumn("vector", col("vector").cast(ArrayType(DoubleType))),
      "id", "vector", nlist = 4, maxIter = 2)
    ParquetCollectionStore.writeIvfSidecar(
      idx.clustered.select((df.columns.toSeq :+ "cluster").map(col): _*),
      idx.centroids, dir, field = "vector")
    ParquetCollectionStore.writeSparseSidecar(df, dir, field = "sp",
      nBuckets = 4)
    ParquetCollectionStore.writePayloadSidecar(df, dir, key = "label")
    ParquetCollectionStore.writeTextSidecar(df, dir, key = "body",
      nBuckets = 4)
    ParquetCollectionStore.writeGeoSidecar(df, dir, key = "loc", bits = 3)
  }

  /** family -> (marker, build line), the six bases of this store. */
  private val families = Seq(
    "_hnsw" -> ("field.txt", 1), "_ivf" -> ("field.txt", 1),
    "_sparse" -> ("meta.txt", 2), "_tidx" -> ("meta.txt", 2),
    "_gidx" -> ("meta.txt", 3), "_pidx/k_label" -> ("meta.txt", 3))

  private def appliedAt(dir: String, fam: String): Long = {
    val (marker, line) = families.toMap.apply(fam)
    val base = new java.io.File(s"$dir/$fam")
    val lines = ParquetCollectionStore.markerLines(new java.io.File(base, marker))
    assert(lines.isDefined, s"$fam: marker missing or parked")
    ParquetCollectionStore.appliedAt(base, lines.get, line)
  }

  private def partitions(dir: String, fam: String): Seq[(String, java.io.File)] =
    Option(new java.io.File(s"$dir/$fam/points").listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .map(d => d.getName.substring(d.getName.indexOf('=') + 1) -> d)

  private def pointIds(d: java.io.File): Seq[String] = {
    val st = new ParquetCollectionStore(d.getAbsolutePath, "c", desc)
    st.queryPoints("c", 0L, st.pointCount("c"), withPayload = false, Nil,
      None).map(_.id).toSeq
  }

  /** The live (partition, id) pairs of one family, dead flags netted out. */
  private def live(dir: String, fam: String): Set[(String, String)] = {
    val dead = new java.io.File(s"$dir/$fam/dead.txt")
    val pairs = partitions(dir, fam).flatMap { case (k, d) =>
      val ids = fam match {
        case "_sparse" => ParquetCollectionStore.parquetFiles(d)
          .flatMap(f => ParquetLog.readPostingRows(f.getAbsolutePath)).map(_._1)
        case "_tidx" => ParquetCollectionStore.parquetFiles(d)
          .flatMap(f => ParquetLog.readTextPostingRows(f.getAbsolutePath))
          .map(_._1)
        case _ => pointIds(d)
      }
      ids.map(k -> _)
    }.toSet
    val flagged: ((String, String)) => Boolean = fam match {
      case "_sparse" | "_tidx" =>
        val ids = ParquetCollectionStore.readIntListFlags(dead).keySet
        p => ids(p._2)
      case "_gidx" | "_pidx/k_label" =>
        val vs = ParquetCollectionStore.readValueIdFlags(dead)
        p => vs.get(p._1).exists(_(p._2))
      case _ =>
        val ids = ParquetCollectionStore.readIdFlags(dead)
        p => ids(p._2)
    }
    pairs.filterNot(flagged)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      java.nio.file.Files.copy(p, to.resolve(from.relativize(p).toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } finally walk.close()
  }

  test("maintained == resealed across all six sidecar families on one store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sidecars").toString
    build(dir)
    val logDir = new java.io.File(s"$dir/_log")
    val prevCap = sys.props.get("graft.test.deadFlagMax")
    sys.props("graft.test.deadFlagMax") = "12"
    try {
      var st = new ParquetCollectionStore(dir, "c", desc)
      var absorbed = 0L
      var reseals = 0L
      def step(next: ParquetCollectionStore => ParquetCollectionStore): Unit = {
        val pre = st
        st = next(st)
        absorbed += pre.hnswIncInserts.get() + pre.ivfIncInserts.get() +
          pre.sparseIncInserts.get() + pre.tidxIncInserts.get() +
          pre.gidxIncInserts.get() + pre.pidxIncInserts.get()
        reseals += pre.bulkReseals.get()
        val head = ParquetLog.head(logDir)
        families.foreach { case (fam, _) =>
          assert(appliedAt(dir, fam) === head, s"$fam lags the log head")
        }
      }
      def up(ps: Seq[Point]): Unit = step(_.appended("c", ps.toIndexedSeq))
      def del(is: Seq[Int]): Unit = step(_.removed("c", is.map(id).toSet))
      val rnd = new scala.util.Random(20261020L)
      up((300 until 308).map(pt(_, 0)))                          // inserts
      up(rnd.shuffle((1 until 300).toList).take(6).map(pt(_, 1))) // updates
      del(Seq(4, 9, 33, 77, 140))                                // deletes
      up(Seq(9, 33).map(pt(_, 2)) ++ Seq(308, 309).map(pt(_, 0))) // resurrect
      // one partition of every family takes 10 single-point appends:
      // past the level-0 cap it consolidates instead of appending
      val seed = ParquetCollectionStore.markerLines(
        new java.io.File(s"$dir/_hnsw/field.txt")).get.apply(5).toLong
      val seg0 = Iterator.from(500)
        .filter(i => graft.ops.HnswSegment.segOf(id(i), 2, seed) == 0)
        .take(10).toSeq
      seg0.foreach(i => up(Seq(pinned(i))))
      Seq(("_pidx/k_label", "value=2"), ("_hnsw", "seg=0"),
        ("_sparse", "db=3")).foreach { case (fam, part) =>
        val n = ParquetCollectionStore.parquetFiles(
          new java.io.File(s"$dir/$fam/points/$part")).size
        assert(n > 0 && n <= ParquetCollectionStore.incCompactThreshold,
          s"$fam/$part holds $n files")
      }
      del(Seq(100, 101, 102, 103, seg0.head))
      assert(new java.io.File(s"$dir/_hnsw/dead.txt").isFile)
      // a mass delete past the flag cap consolidates every flag out
      del((200 until 225) ++ Seq(seg0(1)))
      families.foreach { case (fam, _) =>
        assert(!new java.io.File(s"$dir/$fam/dead.txt").isFile,
          s"$fam kept flags past the cap")
      }
      up(Seq(200, 201, 55).map(pt(_, 3)) ++ Seq(310).map(pt(_, 0)))
      del(Seq(56, 310, seg0(2)))
      assert(absorbed > 0L)
      assert(reseals === 0L, "the churn took the bulk arm, not maintenance")
    } finally prevCap.fold(sys.props.remove("graft.test.deadFlagMax"): Unit)(
      sys.props("graft.test.deadFlagMax") = _)

    val sealedDir = java.nio.file.Files.createTempDirectory("graft-sidecars-rs")
    copyTree(java.nio.file.Paths.get(dir), sealedDir)
    ParquetCollectionStore.optimize(spark, sealedDir.toString)
    families.filterNot(_._1 == "_ivf").foreach { case (fam, _) =>
      val maintained = live(dir, fam)
      assert(maintained.nonEmpty, fam)
      assert(maintained === live(sealedDir.toString, fam), fam)
    }
    val ivf = live(dir, "_ivf").map(_._2)
    assert(ivf.size === live(dir, "_ivf").size, "an id lives in two clusters")
    assert(ivf === live(sealedDir.toString, "_ivf").map(_._2))
    // the text index's live corpus stats equal the resealed build's
    def stats(d: String) = ParquetCollectionStore.textStats(d,
      ParquetCollectionStore.markerLines(
        new java.io.File(s"$d/_tidx/meta.txt")).get)
    assert(stats(dir).isDefined)
    assert(stats(dir) === stats(sealedDir.toString))
  }
}
