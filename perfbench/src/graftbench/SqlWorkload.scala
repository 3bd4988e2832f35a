package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.sources.{CollectionStores, ParquetCollectionStore}

/** `sql_collection`: one client in a closed loop sending a seeded stream
  * of SQL statements through `spark.sql` against a catalog-addressed
  * parquet collection (sealed with the same HNSW and payload sidecars as
  * `wire_serve`). Classes: `topk` (ORDER BY v_cosine(...) DESC, id
  * LIMIT 10, with and without a category predicate) and `scan`
  * (GROUP BY over a payload key, id IN (...) lookups, projection with
  * LIMIT). Every answer is checked against the benchmark's own copy.
  */
final class SqlWorkload(spark: SparkSession, seed: Long, work: File,
                        listener: SparkTrace) extends Workload {
  import SqlWorkload._

  val name = "sql_collection"
  private var coll: Gen.Collection = _
  private var store: ParquetCollectionStore = _
  private var dir: File = _
  private lazy val byId: Map[String, Gen.Pt] = coll.points.iterator.map(p => p.id -> p).toMap

  def setup(): Unit = {
    dir = new File(work, "sql-store")
    coll = Gen.collection(seed, Points, Dim, Clusters)
    Common.seal(spark, coll, dir.getAbsolutePath)
    store = Common.open(dir.getAbsolutePath, Dim)
    CollectionStores.register(BaseName, store)
    CollectionStores.register(StoreName, store)
    // warm-up: one statement of each shape, then the head of the stream,
    // answers checked, so the timed loop runs compiled code
    val warm = new Outcome
    (Seq(Gen.TopK(coll.centres.head.map(x => math.round(x * 1e4) / 1e4), None),
      Gen.TopK(coll.centres.last.map(x => math.round(x * 1e4) / 1e4), Some("a")),
      Gen.GroupBy("category"), Gen.IdLookup(Seq(coll.points.head.id)), Gen.Project(5)) ++
      stream().take(WarmUpStatements)).foreach(s => runOne(s, warm))
    require(warm.failed.get() == 0, s"warm-up statements failed: ${warm.failures.mkString("; ")}")
  }

  def close(): Unit = {
    if (dir != null) Common.deleteTree(dir)
    CollectionStores.remove(StoreName); CollectionStores.remove(BaseName)
  }

  private var recallSum = 0.0
  private var recallN = 0

  /** Run, time and check one statement; returns what it ran and got. */
  private def runOne(s: Gen.Stmt, out: Outcome): Option[(DataFrame, Int)] = {
    var df: DataFrame = null
    out.attempt(s.shape) {
      SparkTrace.tagThread(spark)
      df = spark.sql(s.sql)
      df.collect().toSeq
    }(rows => check(s, rows)).map(rows => (df, rows.length))
  }

  private def check(s: Gen.Stmt, rows: Seq[Row]): Option[String] = s match {
    case Gen.TopK(q, cat) =>
      val pool = coll.points.filter(p => cat.forall(_ == p.category))
      val truth = Stats.exactTopK(pool.map(p => (p.id, p.vec)), q, 10)
      val got = rows.map(r => (r.getString(0), r.getDouble(1)))
      val trueScore = (id: String) => byId.get(id).filter(p => cat.forall(_ == p.category))
        .map(p => Stats.cosine(p.vec, q))
      recallSum += Stats.recallAtK(got.map(_._1), truth.map(_._1)); recallN += 1
      if (Stats.topKCorrect(got, truth, trueScore)) None
      else Some(s"top-k ${got.map(_._1).mkString(",")} != ${truth.map(_._1).mkString(",")}")
    case Gen.GroupBy(key) =>
      val want = coll.points.groupBy(p => if (key == "label") p.label.toString else p.category)
        .view.mapValues(ps => (ps.length.toLong, ps.map(_.price.toLong).sum)).toMap
      val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      if (got == want && rows.length == want.size) None else Some(s"group by $key differs")
    case Gen.IdLookup(ids) =>
      val want = ids.flatMap(byId.get).map(p => (p.id, p.payload)).toSet
      val got = rows.map(r => (r.getString(0), r.getString(1)))
      if (got.toSet == want && got.length == want.size) None else Some("id lookup differs")
    case Gen.Project(limit) =>
      val ok = rows.length == math.min(limit, coll.points.length) &&
        rows.map(_.getString(0)).distinct.length == rows.length &&
        rows.forall(r => byId.get(r.getString(0)).exists(_.label.toString == r.getString(1)))
      if (ok) None else Some(s"projection LIMIT $limit differs")
  }

  private def stream(): Iterator[Gen.Stmt] = Gen.statements(seed, coll)

  def measure(seconds: Int): Result = {
    val out = new Outcome
    recallSum = 0; recallN = 0
    val it = stream()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    while (System.nanoTime() < deadline) runOne(it.next(), out)
    val elapsed = (System.nanoTime() - t0) / 1e9
    val shapes = Seq("topk.all", "topk.category", "scan.groupby", "scan.lookup", "scan.project")
    def cls(c: String) = shapes.filter(_.startsWith(c)).map(out.samples)
    val topk = Stats.series(cls("topk").flatten)
    val scan = Stats.series(cls("scan").flatten)
    val recall = if (recallN == 0) 0.0 else recallSum / recallN
    Result(out, Seq(
      s"sql_topk_ms ${topk.describe("ms")}",
      s"sql_scan_ms ${scan.describe("ms")}",
      shapes.map(sh => s"$sh ${Stats.series(out.samples(sh)).describe("ms")}")
        .mkString("by shape: ", "; ", ""),
      f"shape p50 (geometric mean over shapes): topk ${Stats.shapeP50(cls("topk"))}%.3fms " +
        f"scan ${Stats.shapeP50(cls("scan"))}%.3fms",
      f"statements_per_s ${out.attempted.get() / elapsed}%.3f over $elapsed%.1f s",
      f"sql_topk_recall_at_10 $recall%.4f over $recallN statements",
      f"space_amp ${Common.dirBytes(dir) / rawBytes}%.3f (sealed store directory bytes / raw bytes)"),
      Map("primary_p50_ms" -> Stats.shapeP50(cls("topk")),
        "secondary_p50_ms" -> Stats.shapeP50(cls("scan")),
        "items_per_s" -> (out.attempted.get() - out.failed.get()) / elapsed,
        "recall" -> recall, "space_amp" -> Common.dirBytes(dir) / rawBytes))
  }

  /** An untraced phase for a third of the time, then the same statements
    * traced (the per-layer metrics), then each statement once more
    * untraced and traced in pairs (the tracing overhead).
    */
  def traced(seconds: Int): Result = {
    val plain = new Outcome
    val it = stream()
    val plans = scala.collection.mutable.ArrayBuffer.empty[(Gen.Stmt, String)]
    val deadline = System.nanoTime() + seconds * 1000000000L / 3
    while (System.nanoTime() < deadline) {
      val s = it.next()
      plans += ((s, runOne(s, plain).map(r => Common.planSignature(r._1)).getOrElse("")))
    }

    val tracedOut = new Outcome
    val tracer = new TracingStore(BaseName)
    /** Run `f` traced: spans on, the catalog reading through the wrapper. */
    def tracing[T](f: => T): T = {
      CollectionStores.register(StoreName, tracer)
      try Trace.on(f) finally CollectionStores.register(StoreName, store)
    }
    val countersBefore = Common.counters(store)
    Common.drain(listener); listener.reset(); Trace.reset()
    val phases = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var samePlans = true
    var topkServed = 0; var topkN = 0
    var scored = 0L; var results = 0L
    val t1 = System.nanoTime()
    tracing(plans.foreach { case (s, sig) =>
      Trace.span("bench", s.cls) {
        runOne(s, tracedOut).foreach { case (df, n) =>
          val qe = df.queryExecution
          val (op, parent) = Trace.here
          qe.tracker.phases.foreach { case (phase, ps) =>
            phases(phase) += ps.durationMs
            val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
            Trace.add(Span(op, Trace.newId(), parent, "", "spark", phase,
              ps.startTimeMs * 1000000L + offset, ps.endTimeMs * 1000000L + offset))
          }
          if (Common.planSignature(df) != sig) samePlans = false
          results += n
          if (s.cls == "topk") {
            topkN += 1
            val plan = qe.executedPlan
            if (plan.toString.contains("CollectionSearchScan")) topkServed += 1
            scored += vectorsScored(plan)
          }
        }
      }
    })
    val tracedS = (System.nanoTime() - t1) / 1e9
    Common.drain(listener)
    val ops = math.max(1, plans.length).toDouble
    val counters = Common.counters(store).map { case (k, v) => k -> (v - countersBefore(k)) }
    val all = Trace.all
    val keys = listener.stageKeys
    val self = Trace.selfMs(all, keys)
    Trace.write(new File(work.getParentFile, s"trace-$name-$seed.jsonl"), all, keys)
    val storeCalls = Trace.counter("store.calls")
    val points = Trace.counter("store.points")
    val m = Layers.empty ++ Layers.spark(listener, ops) ++ Map(
      "spark.analysis_ms" -> phases("analysis") / ops,
      "spark.optimizer_ms" -> phases("optimization") / ops,
      "spark.planning_ms" -> phases("planning") / ops,
      "sources.store_calls_per_query" -> storeCalls / ops,
      "sources.points_fetched_per_query" -> points / ops,
      "sources.points_per_result" -> points.toDouble / math.max(1L, results),
      "sources.fetch_ms" -> Trace.counter("store.fetch_ns") / 1e6 / ops,
      "sources.topk_index_served" -> topkServed.toDouble / math.max(1, topkN),
      "store.files_opened" -> counters("files_opened") / ops,
      "store.row_groups_read" -> counters("row_groups_read") / ops,
      "store.dir_bytes" -> Common.dirBytes(dir).toDouble,
      "store.log_entries" -> store.logSize(Common.Collection).toDouble,
      "store.space_amp" -> Common.dirBytes(dir).toDouble / rawBytes,
      "functions.vectors_scored_per_query" -> scored.toDouble / math.max(1, topkN),
      "functions.bytes_scored_per_query" -> scored * Dim * 4.0 / math.max(1, topkN)) ++
      Layers.self(self, ops)

    // whole cycles of the statement stream, so every shape is paired an
    // even number of times (in both orders alike)
    val paired = (0 until PairCycle * math.max(1, plans.length / PairCycle))
      .map(i => plans(i % plans.length)._1)
    val (overhead, overheadSe) = Stats.pairedOverheadMs(paired.length, kind = paired(_).shape)(
      i => runOne(paired(i), plain)) { i =>
      tracing(Trace.span("bench", paired(i).cls)(runOne(paired(i), tracedOut)))
    }
    val same = samePlans && tracedOut.failed.get() == 0 && plain.failed.get() == 0
    Result(tracedOut, Seq(
      f"traced ${plans.length} statements in $tracedS%.3f s; tracing overhead " +
        f"$overhead%.3f ± $overheadSe%.3f ms per statement (${paired.length} pairs with untraced runs)",
      s"same path: plans equal=$samePlans, untraced failures=${plain.failed.get()}"),
      m ++ Map("trace.overhead_ms" -> overhead, "trace.same_path" -> (if (same) 1.0 else 0.0)),
      extraCorrect = same)
  }

  private def rawBytes: Double =
    coll.points.map(p => p.id.length + p.payload.length + 4L * p.vec.length).sum.toDouble

  /** Rows the v_cosine projection scored: the output of the last filter
    * or scan below the top-k (read from the executed plan's metrics).
    */
  private def vectorsScored(plan: SparkPlan): Long = {
    val nodes = new AdaptiveSparkPlanHelper {}.collect(plan) { case p => p }
    val filters = nodes.filter(_.nodeName == "Filter")
    val scans = nodes.filter(_.nodeName.contains("BatchScan"))
    (if (filters.nonEmpty) filters else scans)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }
}

object SqlWorkload {
  /** The name the `bench` catalog resolves; the traced phase registers a
    * [[TracingStore]] under it that forwards to [[BaseName]].
    */
  val StoreName = "bench_sql"
  val BaseName = "bench_sql_base"
  val Points = 2500
  val Dim = 64
  val Clusters = 32
  /** Statements of the stream run (untimed) as part of the set-up: in a
    * fresh JVM statements keep getting faster for the first 40–60 (a
    * top-k from ~220 ms to ~120 ms).
    */
  val WarmUpStatements = 40
  /** Two cycles of the statement stream's six shapes. */
  val PairCycle = 12
}
