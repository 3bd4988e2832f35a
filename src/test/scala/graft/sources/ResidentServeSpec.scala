package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.collections._

/** A full-precision HNSW store keeps each segment's rows resident: once
  * its segments are loaded, the unfiltered walk, the filtered walk arm,
  * the exact micro-arm and the MaxSim rescore serve pages equal to the
  * brute store's without opening a segment parquet file. A codes-tier
  * store never holds rows: its margins keep reading parquet.
  */
class ResidentServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dim = 16
  private val desc = CollectionDescriptor("r",
    Seq(DenseField("vector", dim)), named = false)

  private def vec(i: Int): Array[Float] = {
    val r = new java.util.Random(i * 7919L)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  private def payload(i: Int): String = s"""{"g":${i % 4},"label":${i % 50}}"""

  /** 2,000 points over 2 primary files and 2 HNSW segments, with `g`
    * and `label` payload indexes (and, for `codes`, the int8 tier).
    */
  private def mkDir(codes: Boolean): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-resident").toString
    val df = (0 until 2000).map(i => (f"$i%04d", payload(i), vec(i)))
      .toDF("id", "payload", "vector")
    ParquetCollectionStore.write(df, d, numFiles = 2, withLog = true)
    ParquetCollectionStore.writeHnswSidecar(df, d, field = "vector",
      m = 8, efConstruction = 32, numSegments = 2)
    if (codes) ParquetCollectionStore.writeHnswQuantizedSidecar(df, d)
    Seq("g", "label").foreach(k => ParquetCollectionStore.writePayloadSidecar(
      df.select("id", "payload"), d, key = k, kind = "int"))
    d
  }

  private lazy val dir = mkDir(codes = false)

  /** Structural page form (arrays compare by reference otherwise). */
  private def rows(page: Seq[(Point, Double)]) = page.map { case (p, s) =>
    (p.id, s, p.payload,
      p.dense.view.mapValues(_.toSeq).toMap,
      p.multi.view.mapValues(_.map(_.toSeq).toSeq).toMap,
      p.sparse.view.mapValues { case (i, v) => (i.toSeq, v.toSeq) }.toMap)
  }

  private val narrow = PayloadFilter(
    Seq(PayloadCondition("label", "eq", "7")), Nil, None)   // 40 matched
  private val broad = PayloadFilter(
    Seq(PayloadCondition("g", "gte", "1")), Nil, None)      // 1,500 matched

  test("a warm full-precision store serves every arm from resident rows, equal to brute") {
    // ef sized so the broad filter's widened beam (1000·2000/1500 = 1334)
    // stays below the matched set (the walk arm) yet covers a segment
    // (~1,000 nodes): the walk is exhaustive and its page exact
    val st = new ParquetCollectionStore(dir, "r", desc, hnswEf = 1000)
    val brute = new ParquetCollectionStore(dir, "r", desc)
    val q = vec(9001).map(_.toDouble)
    val spec = SearchSpec("vector", q, "cosine", 5)
    st.searchPointsFiltered("r", spec, withPayload = true, Seq("vector"),
      PayloadFilter.Empty)
    assert(st.hnswSegmentsLoaded.get() === 2L)
    assert(st.hnswRowSegments === 2)
    val opened = st.hnswSegmentFilesOpened
    assert(opened > 0L)
    for {
      pf <- Seq(PayloadFilter.Empty, narrow, broad)
      withPayload <- Seq(true, false)
      fields <- Seq(Nil, Seq("vector"))
    } {
      val got = rows(st.searchPointsFiltered("r", spec, withPayload, fields, pf))
      val want = rows(brute.searchPointsFiltered("r", spec, withPayload, fields,
        pf))
      assert(got.size === 5)
      assert(got === want, s"${pf.describe} withPayload=$withPayload $fields")
    }
    assert(st.hnswFilteredExactServes.get() === 4L)
    assert(st.hnswFilteredWalkServes.get() === 4L)
    // no segment file opened after the warm-up, no primary ever
    assert(st.hnswSegmentFilesOpened === opened)
    assert(st.filesOpened.get() === 0L)
    // the narrow exact arm alone loads rows, never a graph
    val cold = new ParquetCollectionStore(dir, "r", desc, hnswEf = 1000)
    assert(rows(cold.searchPointsFiltered("r", spec, withPayload = true,
      Seq("vector"), narrow)) === rows(brute.searchPointsFiltered("r", spec,
      withPayload = true, Seq("vector"), narrow)))
    assert(cold.hnswSegmentsLoaded.get() === 0L)
    assert(cold.hnswRowSegments === 2)
  }

  test("resident bytes count the rows: floats plus payload bytes") {
    val st = new ParquetCollectionStore(dir, "r", desc, hnswEf = 64)
    st.searchPoints("r", SearchSpec("vector", vec(1).map(_.toDouble),
      "cosine", 5), withPayload = false, Nil)
    val payloadBytes = (0 until 2000).map(i =>
      payload(i).getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    // 8 B/dim walk vectors + 4 B/dim resident floats + payload bytes
    assert(st.hnswResidentBytes === 2000L * dim * 12L + payloadBytes)
  }

  test("the codes tier never holds rows or the full-precision graph") {
    val qdir = mkDir(codes = true)
    val quant = new ParquetCollectionStore(qdir, "r", desc, hnswEf = 64,
      hnswCandidateK = 40)
    val brute = new ParquetCollectionStore(qdir, "r", desc)
    val spec = SearchSpec("vector", vec(4242).map(_.toDouble), "cosine", 5)
    val got = quant.searchPointsFiltered("r", spec, withPayload = true,
      Seq("vector"), narrow)
    assert(rows(got) === rows(brute.searchPointsFiltered("r", spec,
      withPayload = true, Seq("vector"), narrow)))
    assert(quant.hnswFilteredExactServes.get() === 1L)
    assert(quant.searchPoints("r", spec, withPayload = true, Seq("vector"))
      .size === 5)
    assert(quant.hnswQuantServes.get() === 1L)
    assert(quant.hnswRowSegments === 0)
    assert(quant.hnswSegmentsLoaded.get() === 0L)
    // its margins read the segment partitions on every search
    assert(quant.hnswSegmentFilesOpened > 0L)
  }

  test("multi-vector: the exact MaxSim arms serve from resident rows, equal to brute") {
    import spark.implicits._
    val mdim = 8
    val mdesc = CollectionDescriptor("m", Seq(MultiField("mv", mdim)),
      named = false)
    def vecs(i: Int): Array[Array[Float]] = {
      val r = new java.util.Random(i * 104729L)
      val a = Array.fill(mdim)(r.nextGaussian().toFloat)
      Array(a, a.reverse)
    }
    val d = java.nio.file.Files.createTempDirectory("graft-resident-m").toString
    val df = (0 until 300)
      .map(i => (f"$i%04d", s"""{"g":${i % 10}}""", vecs(i).map(_.toSeq).toSeq))
      .toDF("id", "payload", "mv")
    ParquetCollectionStore.write(df, d, numFiles = 2, withLog = true)
    ParquetCollectionStore.writeMultiHnswSidecar(df, d, field = "mv",
      multiColumn = "mv", m = 8, efConstruction = 32, numSegments = 2)
    ParquetCollectionStore.writePayloadSidecar(df.select("id", "payload"), d,
      key = "g", kind = "int")
    val qm = vecs(9001).map(_.map(_.toDouble))
    val spec = SearchSpec("mv", SearchSpec.meanPool(qm.map(_.map(_.toFloat))).get,
      "dot", 5, multiQuery = Some(qm))
    // margin >= corpus: the unfiltered rescore is exact by construction
    val st = new ParquetCollectionStore(d, "m", mdesc, hnswEf = 4096,
      hnswCandidateK = 300)
    val brute = new ParquetCollectionStore(d, "m", mdesc)
    val mem = InMemoryCollectionStore.single("m", mdesc, (0 until 300).map(i =>
      Point(f"$i%04d", Some(s"""{"g":${i % 10}}"""), multi = Map("mv" -> vecs(i)))))
    st.searchPoints("m", spec, withPayload = true, Seq("mv"))
    val opened = st.hnswSegmentFilesOpened
    val filter = PayloadFilter(Seq(PayloadCondition("g", "eq", "3")), Nil, None)
    for {
      pf <- Seq(PayloadFilter.Empty, filter)
      withPayload <- Seq(true, false)
      fields <- Seq(Nil, Seq("mv"))
    } {
      val what = s"${pf.describe} withPayload=$withPayload $fields"
      val want = rows(brute.searchPointsFiltered("m", spec, withPayload, fields, pf))
      assert(rows(st.searchPointsFiltered("m", spec, withPayload, fields, pf)) ===
        want, what)
      assert(rows(mem.searchPointsFiltered("m", spec, withPayload, fields, pf)) ===
        want, what)
      // the scored multi-vector field returns only when requested
      assert(want.forall(_._5.nonEmpty === fields.nonEmpty), what)
    }
    assert(st.hnswFilteredExactServes.get() === 4L)
    assert(st.hnswRowSegments === 2)
    assert(st.hnswSegmentFilesOpened === opened)
    assert(st.filesOpened.get() === 0L)
  }
}
