package graftbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.collections.{CollectionDescriptor, DenseField}
import graft.sources.{CollectionStores, ParquetCollectionStore}

/** What one measured phase of a workload produced: attempts, failures
  * (exceptions and wrong answers alike — neither adds a latency sample)
  * and the latency samples per operation class.
  */
final class Outcome {
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  val errors = new AtomicLong(0L)
  private val lat = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val notes = new ConcurrentLinkedQueue[String]()

  def ok(cls: String, ms: Double): Unit = {
    attempted.incrementAndGet()
    lat.computeIfAbsent(cls, _ => new ConcurrentLinkedQueue[Double]()).add(ms)
  }

  def fail(cls: String, why: String, error: Boolean = false): Unit = {
    attempted.incrementAndGet()
    failed.incrementAndGet()
    if (error) errors.incrementAndGet()
    if (notes.size < 5) notes.add(s"$cls: ${why.take(300)}")
  }

  /** Run one operation: time `op`, check its answer with `check`
    * (None = correct, Some(reason) = wrong); an exception is a failure.
    */
  def attempt[T](cls: String)(op: => T)(check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = op
      val ms = (System.nanoTime() - t0) / 1e6
      check(r) match {
        case None => ok(cls, ms); Some(r)
        case Some(why) => fail(cls, why); None
      }
    } catch {
      case e: Exception => fail(cls, s"${e.getClass.getSimpleName}: ${e.getMessage}", error = true); None
    }
  }

  def samples(cls: String): Seq[Double] =
    Option(lat.get(cls)).map(_.asScala.toSeq).getOrElse(Nil)

  def failures: Seq[String] = notes.toArray(Array.empty[String]).toSeq
}

object Common {
  val Collection = "pts"

  def descriptor(dim: Int): CollectionDescriptor =
    CollectionDescriptor(Collection, Seq(DenseField("vector", dim)), named = false)

  def session(work: File, listener: SparkTrace): SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.bench", "graft.sources.CollectionCatalog")
      .config("spark.sql.catalog.bench.store", SqlWorkload.StoreName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(listener)
    s
  }

  /** Seal a generated collection into `dir` the way both store-backed
    * workloads use it: 4 id-ranged primary files with a change log, the
    * HNSW sidecar (m=16, efConstruction=64, 4 segments) and count-only
    * payload indexes on `label` and `category`; opened with ef=64.
    */
  def seal(spark: SparkSession, c: Gen.Collection, dir: String): Unit = {
    import spark.implicits._
    val df = c.points.map(p => (p.id, p.payload, p.vec)).toDF("id", "payload", "vector")
    def step(name: String)(f: => Unit): Unit = {
      val s = timeS(f)._2
      System.err.println(f"[perfbench] seal $name: $s%.3f s")
    }
    step("primaries")(ParquetCollectionStore.write(df, dir, numFiles = 4, withLog = true))
    step("hnsw")(ParquetCollectionStore.writeHnswSidecar(df, dir, field = "vector", m = 16,
      efConstruction = 64, numSegments = 4))
    val ids = df.select("id", "payload")
    step("payload indexes") {
      ParquetCollectionStore.writePayloadSidecar(ids, dir, key = "label", kind = "int")
      ParquetCollectionStore.writePayloadSidecar(ids, dir, key = "category", kind = "keyword")
    }
  }

  def open(dir: String, dim: Int): ParquetCollectionStore =
    new ParquetCollectionStore(dir, Collection, descriptor(dim), hnswEf = 64)

  /** The store's public counters, read off one instance. */
  def counters(s: ParquetCollectionStore): Map[String, Long] = Map(
    "files_opened" -> s.filesOpened.get(),
    "row_groups_read" -> s.rowGroupsRead.get(),
    "hnsw_segments_loaded" -> s.hnswSegmentsLoaded.get(),
    "hnsw_filtered_walk_serves" -> s.hnswFilteredWalkServes.get(),
    "hnsw_filtered_exact_serves" -> s.hnswFilteredExactServes.get(),
    "hnsw_tail_rescored" -> s.hnswTailRescored.get(),
    "hnsw_inc_inserts" -> s.hnswIncInserts.get(),
    "bulk_reseals" -> s.bulkReseals.get())

  /** Every store instance ever registered under `name`, by identity: a
    * write swaps the registered instance and each instance counts only
    * its own work, so totals sum across all of them.
    */
  final class Instances(name: String) {
    private val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[ParquetCollectionStore, java.lang.Boolean]())
    def observe(): Unit = CollectionStores.get(name) match {
      case p: ParquetCollectionStore => seen.synchronized { seen.add(p); () }
      case _ =>
    }
    def totals: Map[String, Long] = seen.synchronized {
      seen.asScala.toSeq.map(counters).foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) }
      }
    }
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyTree(f, new File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath): Unit

  /** A plan's text with the per-query ids stripped, for comparing the
    * executed plans of the same statement across phases. Adaptive
    * execution numbers its query stages and whole-stage-codegen stages
    * (`*(N)`) in the order the stages finish, which varies from run to
    * run with thread scheduling, so those numbers are stripped too; the
    * operators, their order, join strategies and build sides stay.
    */
  def planSignature(df: DataFrame): String = planText(df.queryExecution.executedPlan.toString)

  def planText(plan: String): String =
    plan
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("\\[id=#?\\d+\\]", "")
      .replaceAll("(Exchange|QueryStage|AQEShuffleRead) \\d+", "$1")
      .replaceAll("\\*\\(\\d+\\) ", "* ")

  /** Wait until the listener bus has delivered everything so far. */
  def drain(listener: SparkTrace): Unit = {
    var last = -1L; var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val now = listener.get("stages") + listener.get("jobs")
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}
