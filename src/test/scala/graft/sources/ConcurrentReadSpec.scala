package graft.sources

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.collections._

/** Many threads reading one parquet store at once: every file open runs
  * on its own copy of the JVM's loaded configuration with its own read
  * options, so concurrent reads of the same snappy-compressed files
  * return exactly what one thread reads alone; and a cold HNSW segment
  * loads, and a payload filter resolves, once per store instance
  * however many searches race on it.
  */
class ConcurrentReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dim = 16
  private val desc = CollectionDescriptor("c",
    Seq(DenseField("vector", dim)), named = false)

  private def vec(i: Int): Array[Float] = {
    val r = new java.util.Random(i * 7919L)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  /** 600 points over 4 primary files, with a 2-segment
    * HNSW sidecar, its int8-codes tier and a `g` payload index.
    */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-concread").toString
    val df = (0 until 600)
      .map(i => (f"$i%04d", s"""{"g":${i % 3}}""", vec(i)))
      .toDF("id", "payload", "vector")
    ParquetCollectionStore.write(df, d, numFiles = 4)
    ParquetCollectionStore.writeHnswSidecar(df, d, field = "vector",
      m = 8, efConstruction = 32, numSegments = 2)
    ParquetCollectionStore.writeHnswQuantizedSidecar(df, d)
    ParquetCollectionStore.writePayloadSidecar(df.select("id", "payload"), d,
      key = "g", kind = "int")
    d
  }

  private def parquetFiles(sub: String): Seq[String] = {
    val root = new java.io.File(s"$dir/$sub")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(root).filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
  }

  /** Everything one reader sees, in a comparable form. */
  private def readAll(st: ParquetCollectionStore, ids: Set[String]): Seq[Any] = {
    def pts(filter: Option[Set[String]]) =
      st.queryPoints("c", 0L, st.pointCount("c"), withPayload = true,
        Seq("vector"), None, idFilter = filter)
        .map(p => (p.id, p.payload, p.dense.map { case (k, v) => k -> v.toSeq }))
        .toList
    Seq(pts(None), pts(Some(ids))) ++
      parquetFiles("_hnsw/edges").map(ParquetLog.readEdgeRows) ++
      parquetFiles("_hnsw/codes").map(ParquetLog.readCodeRows(_)
        .map { case (id, codes, scale) => (id, codes.toSeq, scale) })
  }

  /** Run `body` in `n` threads released together; results in thread order. */
  private def together[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new CyclicBarrier(n)
    try {
      val fs = (0 until n).map(t => Future { gate.await(); body(t) })
      Await.result(Future.sequence(fs), 5.minutes)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES): Unit
    }
  }

  test("8 threads reading one store and its sidecar files see what one thread sees") {
    val st = new ParquetCollectionStore(dir, "c", desc)
    val ids = (0 until 600 by 37).map(i => f"$i%04d").toSet
    val expected = readAll(new ParquetCollectionStore(dir, "c", desc), ids)
    assert(expected.size === 2 + parquetFiles("_hnsw/edges").size +
      parquetFiles("_hnsw/codes").size)
    assert(parquetFiles("_hnsw/codes").nonEmpty && parquetFiles("_hnsw/edges").nonEmpty)
    assert(expected.head.asInstanceOf[List[_]].size === 600)
    assert(expected(1).asInstanceOf[List[_]].size === ids.size)
    val got = together(8)(_ => (0 until 3).map(_ => readAll(st, ids)))
    got.zipWithIndex.foreach { case (rounds, t) =>
      rounds.foreach(r => assert(r == expected, s"thread $t read something else"))
    }
  }

  test("racing first searches load each HNSW segment once per store instance") {
    val q = vec(9001).map(_.toDouble)
    def page(st: ParquetCollectionStore) =
      st.searchPoints("c", SearchSpec("vector", q, "cosine", 10),
        withPayload = false, Nil).map(p => (p._1.id, p._2))
    (0 until 3).foreach { _ =>
      val full = new ParquetCollectionStore(dir, "c", desc, hnswEf = 64)
      val pages = together(2)(_ => page(full))
      assert(pages.distinct.size === 1 && pages.head.size === 10)
      assert(full.hnswSegmentsLoaded.get() === 2L)
      val quant = new ParquetCollectionStore(dir, "c", desc, hnswEf = 64,
        hnswCandidateK = 40)
      assert(together(2)(_ => page(quant)).distinct.size === 1)
      assert(quant.hnswQuantSegmentsLoaded.get() === 2L)
      assert(quant.hnswSegmentsLoaded.get() === 0L)
    }
  }

  test("racing first filtered searches resolve the filter once per store instance") {
    val q = vec(4242).map(_.toDouble)
    val pf = PayloadFilter(Seq(PayloadCondition("g", "eq", "1")), Nil, None)
    (0 until 3).foreach { _ =>
      val st = new ParquetCollectionStore(dir, "c", desc, hnswEf = 64)
      val pages = together(2)(_ =>
        st.searchPointsFiltered("c", SearchSpec("vector", q, "cosine", 10),
          withPayload = true, Nil, pf).map(p => (p._1.id, p._1.payload, p._2)))
      assert(pages.distinct.size === 1 && pages.head.size === 10)
      assert(st.hnswFilterResolutions.get() === 1L)
    }
  }
}
