package graftbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.sources._

/** `wire_serve`: two reader clients (one gRPC, one REST) and one writer
  * client (gRPC) against in-process servers in front of one parquet
  * store with the HNSW and payload sidecars and a change log. The run
  * is [[WireWorkload.TimedRounds]] rounds: the writer sends an upsert
  * batch (half updates, half new ids) and a delete of as many live ids,
  * so the point count stays flat; then both readers, each in a closed
  * loop, send top-10 searches for the round's share of the reading time
  * — unfiltered, `label` (~2 %, the exact micro-arm) and `category`
  * (~50 %, the accepting walk). Writes and reads do not overlap: the store fails
  * reads that overlap a write, which the traced run measures separately
  * (`wire.read_during_write_failures`).
  */
final class WireWorkload(spark: SparkSession, seed: Long, work: File,
                         listener: SparkTrace) extends Workload {
  import WireWorkload._

  val name = "wire_serve"
  private var coll: Gen.Collection = _
  private var sealedDir: File = _
  private var live: Live = _
  private var phases = 0

  def setup(): Unit = {
    coll = Gen.collection(seed, Points, Dim, Clusters)
    sealedDir = new File(work, "wire-sealed")
    Common.seal(spark, coll, sealedDir.getAbsolutePath)
    live = new Live(traced = false)
  }

  def close(): Unit = {
    if (live != null) { live.close(); live = null }
    if (sealedDir != null) Common.deleteTree(sealedDir)
  }

  /** A serving copy of the sealed store, its servers and clients, and
    * the benchmark's own copy of the data it tracks through the writes.
    */
  final class Live(traced: Boolean) {
    phases += 1
    val dir = new File(work, s"wire-live-$phases")
    Common.copyTree(sealedDir, dir)
    CollectionStores.register(BaseName, Common.open(dir.getAbsolutePath, Dim))
    val instances = new Common.Instances(BaseName)
    instances.observe()
    val tracers: Map[String, TracingStore] =
      if (!traced) Map.empty
      else Seq("grpc", "rest").map { t =>
        val ts = new TracingStore(BaseName)
        CollectionStores.register(s"$BaseName-$t", ts)
        t -> ts
      }.toMap
    private def fronted(t: String) = if (traced) s"$BaseName-$t" else BaseName
    val grpcServer = new CollectionGrpcServer(fronted("grpc")).start()
    val restServer = new CollectionHttpServer(fronted("rest")).start()
    val writeServer = new CollectionGrpcServer(BaseName).start()
    val grpc = new GrpcCollectionStore(grpcServer.host, grpcServer.port)
    val rest = new RestCollectionStore(restServer.baseUrl)
    val writeClient = new GrpcCollectionStore(writeServer.host, writeServer.port)

    val points = new ConcurrentHashMap[String, Gen.Pt]()
    coll.points.foreach(p => points.put(p.id, p))
    val liveIds: ArrayBuffer[String] = ArrayBuffer.from(coll.points.map(_.id))
    val issued: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    coll.points.foreach(p => issued.add(p.id))
    /** id -> nanoTime its delete was acknowledged. */
    val deletedAt = new ConcurrentHashMap[String, java.lang.Long]()
    var inserted = 0

    // warm-up: a small write batch, then every search shape on both
    // transports (loads the segment graphs and the payload indexes);
    // answers checked
    private val warm = new Outcome
    private val wr = Gen.rng(seed, 9)
    write(wr, warm, 2)
    for (client <- Seq(grpc, rest); f <- Seq(None, Some(labelEq(0)), Some(categoryEq("a"))))
      search(client, Gen.query(wr, coll.centres), f, warm, None)
    require(warm.failed.get() == 0, s"warm-up failed: ${warm.failures.mkString("; ")}")
    val startTotals: Map[String, Long] = instances.totals

    def close(): Unit = {
      grpcServer.stop(); restServer.stop(); writeServer.stop()
      CollectionStores.remove(BaseName)
      tracers.keys.foreach(t => CollectionStores.remove(s"$BaseName-$t"))
      Common.deleteTree(dir)
    }

    def rawBytes: Double = {
      var b = 0L
      points.values().forEach(p => b += p.id.length + p.payload.length + 4L * p.vec.length)
      b.toDouble
    }

    /** Mean recall@10 of the fixed query set against exact top-10 over
      * the benchmark's copy.
      */
    def recall(): Double = {
      val r = Gen.rng(seed, 30)
      val qs = Seq.fill(RecallQueries)(Gen.query(r, coll.centres))
      val rows = points.values().asScala.map(p => (p.id, p.vec)).toSeq
      qs.map { q =>
        val got = grpc.searchPointsFiltered(Common.Collection, SearchSpec("vector", q, "cosine", 10),
          withPayload = false, Nil, PayloadFilter.Empty).map(_._1.id)
        Stats.recallAtK(got, Stats.exactTopK(rows, q, 10).map(_._1))
      }.sum / qs.length
    }

    /** One checked search: k results, best-first, every filter
      * satisfied, every id issued and not deleted before the call.
      */
    def search(client: CollectionStore, q: Array[Double], f: Option[PayloadCondition],
               out: Outcome, tracer: Option[TracingStore]): Unit = {
      val cls = f.fold("search.all")(c => s"search.${c.key}")
      val pf = f.fold(PayloadFilter.Empty)(c => PayloadFilter(Seq(c), Nil, None))
      val sent = System.nanoTime()
      instances.observe()
      Trace.span("wire", cls) {
        tracer.foreach(_.caller = Trace.here)
        out.attempt(cls) {
          client.searchPointsFiltered(Common.Collection, SearchSpec("vector", q, "cosine", 10),
            withPayload = true, Nil, pf)
        } { res =>
          val ranked = res.map { case (p, s) => (p.id, s) }
          val bad = res.find { case (p, _) =>
            !issued.contains(p.id) ||
              Option(deletedAt.get(p.id)).exists(_ < sent) ||
              !f.forall(c => satisfies(p.payload, c))
          }
          if (res.length != 10) Some(s"$cls returned ${res.length} results")
          else if (!Stats.sortedBest(ranked)) Some(s"$cls results not best-first")
          else bad.map { case (p, _) => s"$cls returned ${p.id} (${p.payload.getOrElse("")})" }
        }
      }
      instances.observe()
    }

    /** One writer step: an upsert batch (half updates of live ids, half
      * new ids) then a delete of as many other live ids.
      */
    def write(r: scala.util.Random, out: Outcome, batch: Int = Batch): Unit = {
      val half = batch / 2
      val chosen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (chosen.size < batch) chosen += liveIds(r.nextInt(liveIds.length))
      val (upd, del) = chosen.toSeq.splitAt(half)
      val fresh = (0 until half).map { _ => inserted += 1; f"n$seed%d-$inserted%06d" }
      val pts = (upd ++ fresh).map(id => Gen.point(r, id, coll.centres))
      fresh.foreach(issued.add)
      instances.observe()
      out.attempt("upsert")(writeClient.upsertPoints(Common.Collection,
        pts.map(p => Point(p.id, Some(p.payload), Map("vector" -> p.vec)))))(_ => None)
        .foreach { _ =>
          pts.foreach(p => points.put(p.id, p))
          liveIds ++= fresh
        }
      instances.observe()
      out.attempt("delete")(writeClient.deletePoints(Common.Collection, del.toSet))(_ => None)
        .foreach { _ =>
          val now = System.nanoTime()
          del.foreach { id => deletedAt.put(id, now); points.remove(id) }
          val gone = del.toSet
          liveIds.filterInPlace(id => !gone(id))
        }
      instances.observe()
    }

    /** Run `rounds` rounds of one write batch followed by searches from
      * both readers concurrently, each reader a closed loop over a fixed
      * cycle of filter shapes: for `readNs` of reading per round (timed,
      * so every run has the same writes and the same mix), or, with
      * `readNs` 0, for [[ReadsPerRound]] searches per reader (traced).
      * Returns the wall seconds spent reading.
      */
    def drive(out: Outcome, rounds: Int, readNs: Long): Seq[(Int, Double)] = {
      val wr = Gen.rng(seed, 20)
      val rr = Seq(Gen.rng(seed, 10), Gen.rng(seed, 11))
      def done = SearchClasses.map(out.samples(_).length).sum
      (0 until rounds).map { _ =>
        write(wr, out)
        val n0 = done
        val t0 = System.nanoTime()
        def more(i: Int): Boolean =
          if (readNs == 0L) i <= ReadsPerRound else System.nanoTime() - t0 < readNs
        val readers = Seq((grpc, "grpc"), (rest, "rest")).zip(rr).map { case ((c, t), r) =>
          new Thread(() => Iterator.from(1).takeWhile(more).foreach { i =>
            val q = Gen.query(r, coll.centres)
            val f = i % 4 match {
              case 1 => Some(labelEq(r.nextInt(Gen.Labels)))
              case 3 => Some(categoryEq(Gen.Categories(r.nextInt(Gen.Categories.length))))
              case _ => None
            }
            search(c, q, f, out, tracers.get(t))
          }, s"reader-$t")
        }
        readers.foreach(_.start())
        readers.foreach(_.join())
        (done - n0, (System.nanoTime() - t0) / 1e9)
      }
    }

    /** Tracing cost per search (mean, standard error): [[PairedSearches]]
      * searches in one thread, alternating transport and cycling the
      * filter shapes, each once with tracing off and once on, after one
      * untimed search of each shape on each transport (which loads the
      * segments of the store instance the last write left). Both go
      * through the same servers, so the wrapper's forwarding hop is not
      * part of the cost.
      */
    def pairedOverheadMs(out: Outcome): (Double, Double) = {
      val r = Gen.rng(seed, 50)
      for (c <- Seq(grpc, rest); f <- Seq(None, Some(labelEq(0)), Some(categoryEq("a"))))
        search(c, Gen.query(r, coll.centres), f, out, None)
      val calls = (0 until PairedSearches).map { i =>
        val f = i % 3 match {
          case 0 => None
          case 1 => Some(labelEq(r.nextInt(Gen.Labels)))
          case _ => Some(categoryEq(Gen.Categories(r.nextInt(Gen.Categories.length))))
        }
        val (c, t) = if (i % 2 == 0) (grpc, "grpc") else (rest, "rest")
        (c, t, Gen.query(r, coll.centres), f)
      }
      Stats.pairedOverheadMs(calls.length, kind = i => (i % 2, i % 3)) { i =>
        val (c, _, q, f) = calls(i)
        search(c, q, f, out, None)
      } { i =>
        val (c, t, q, f) = calls(i)
        Trace.on(search(c, q, f, out, tracers.get(t)))
      }
    }

    /** The engine defect the rounds avoid, measured: searches sent while
      * one write batch runs; returns how many failed of how many sent.
      */
    def readsDuringWrite(): (Long, Long) = {
      val probe = new Outcome
      @volatile var writing = true
      val w = new Thread(() => try write(Gen.rng(seed, 40), new Outcome) finally writing = false)
      val r = Gen.rng(seed, 41)
      w.start()
      while (writing) search(grpc, Gen.query(r, coll.centres), None, probe, None)
      w.join()
      (probe.failed.get(), probe.attempted.get())
    }
  }

  def measure(seconds: Int): Result = {
    val out = new Outcome
    val before = live.recall()
    val t0 = System.nanoTime()
    val perRound = live.drive(out, TimedRounds, seconds * 1000000000L / TimedRounds)
    val elapsed = (System.nanoTime() - t0) / 1e9
    val after = live.recall()
    val searches = SearchClasses.flatMap(out.samples)
    val readS = perRound.map(_._2).sum
    // the median round, not the total: one round slowed by the machine
    // would otherwise move the whole run's throughput
    val perS = Stats.median(perRound.map { case (n, s) => n / s })
    val s = Stats.series(searches)
    val up = Stats.series(out.samples("upsert"))
    val del = Stats.series(out.samples("delete"))
    val spaceAmp = Common.dirBytes(live.dir) / live.rawBytes
    val recall = (before + after) / 2
    Result(out, Seq(
      s"search_ms ${s.describe("ms")}",
      Seq("all", "label", "category").map(c =>
        s"$c=${Stats.series(out.samples(s"search.$c")).describe("ms")}").mkString("search_ms by filter: ", "; ", ""),
      f"searches_per_s $perS%.3f (median round; ${searches.length} searches over " +
        f"$readS%.1f s of reading in $TimedRounds rounds, $elapsed%.1f s)",
      f"recall_at_10 before writes $before%.4f after writes $after%.4f ($RecallQueries queries each)",
      s"upsert_ms ${up.describe("ms")} (batches of $Batch points)",
      s"delete_ms ${del.describe("ms")}",
      f"space_amp $spaceAmp%.3f (store directory bytes / raw live bytes)"),
      Map("primary_p50_ms" -> Stats.shapeP50(SearchClasses.map(out.samples)),
        "secondary_p50_ms" -> up.p50,
        "items_per_s" -> perS, "recall" -> recall,
        "space_amp" -> spaceAmp),
      extraCorrect = recall >= RecallFloor)
  }

  /** Whole rounds — one per 5 s of `seconds` — untraced from a fresh
    * copy of the sealed store, then the same rounds traced from another
    * fresh copy (the per-layer metrics); both must serve every filtered
    * search by its arm. Then searches on the traced copy, each once
    * untraced and once traced in pairs (the tracing overhead).
    */
  def traced(seconds: Int): Result = {
    val rounds = math.max(1, seconds / 5)
    val plain = new Outcome
    live.drive(plain, rounds, 0L)
    val plainArms = arms(live, plain)
    live.close()

    live = new Live(traced = true)
    val out = new Outcome
    Common.drain(listener); listener.reset(); Trace.reset()
    val t1 = System.nanoTime()
    Trace.on(live.drive(out, rounds, 0L))
    val tracedS = (System.nanoTime() - t1) / 1e9
    Common.drain(listener)
    val tracedArms = arms(live, out)
    val same = plainArms == tracedArms && plainArms._1 && plain.failed.get() == 0
    val searches = SearchClasses.map(out.samples(_).length).sum
    val batches = out.samples("upsert").length
    val totals = live.instances.totals.map { case (k, v) => k -> (v - live.startTotals.getOrElse(k, 0L)) }
    val all = Trace.all
    val keys = listener.stageKeys
    Trace.write(new File(work.getParentFile, s"trace-$name-$seed.jsonl"), all, keys)
    val self = Trace.selfMs(all, keys)
    val storeMs = all.filter(_.layer == "store").map(s => (s.endNs - s.startNs) / 1e6).sum
    val clientMs = SearchClasses.flatMap(out.samples).sum
    val n = math.max(1, searches).toDouble
    val ops = math.max(1, searches + batches).toDouble
    val dirBytes = Common.dirBytes(live.dir).toDouble
    val m = Layers.empty ++ Layers.spark(listener, ops) ++ Map(
      "spark.upsert_jobs" -> listener.get("jobs").toDouble / math.max(1, batches),
      "store.search_ms" -> self.getOrElse("store", 0.0) / n,
      "store.search_calls" -> Trace.counter("store.calls").toDouble,
      "store.hnsw_segments_loaded" -> totals("hnsw_segments_loaded").toDouble,
      "store.hnsw_filtered_walk_serves" -> totals("hnsw_filtered_walk_serves").toDouble,
      "store.hnsw_filtered_exact_serves" -> totals("hnsw_filtered_exact_serves").toDouble,
      "store.hnsw_tail_rescored" -> totals("hnsw_tail_rescored").toDouble,
      "store.files_opened" -> totals("files_opened").toDouble,
      "store.row_groups_read" -> totals("row_groups_read").toDouble,
      "store.write_ms" -> (out.samples("upsert") ++ out.samples("delete")).sum / math.max(1, batches),
      "store.hnsw_inc_inserts" -> totals("hnsw_inc_inserts").toDouble,
      "store.bulk_reseals" -> totals("bulk_reseals").toDouble,
      "store.dir_bytes" -> dirBytes,
      "store.log_entries" -> CollectionStores.get(BaseName).logSize(Common.Collection).toDouble,
      "store.space_amp" -> dirBytes / live.rawBytes,
      "wire.grpc.requests" -> (live.grpcServer.requestsServed.get() +
        live.writeServer.requestsServed.get()).toDouble,
      "wire.grpc.bytes_in" -> (live.grpcServer.bytesIn.get() + live.writeServer.bytesIn.get()).toDouble,
      "wire.grpc.bytes_out" -> (live.grpcServer.bytesOut.get() + live.writeServer.bytesOut.get()).toDouble,
      "wire.rest.requests" -> live.restServer.requestsServed.get().toDouble,
      "wire.rest.bytes_out" -> live.restServer.bytesOut.get().toDouble,
      "wire.bytes_per_search" -> (live.grpcServer.bytesOut.get() + live.restServer.bytesOut.get()) / n,
      "wire.overhead_ms" -> (clientMs - storeMs) / n,
      "wire.errors" -> out.errors.get().toDouble) ++ Layers.self(self, ops)
    val (overhead, overheadSe) = live.pairedOverheadMs(out)
    val (probeFailed, probeSent) = live.readsDuringWrite()
    Result(out, Seq(
      f"traced $rounds rounds in $tracedS%.3f s; tracing overhead $overhead%.3f ± " +
        f"$overheadSe%.3f ms per search ($PairedSearches pairs with untraced searches)",
      s"same path: untraced arms=$plainArms traced arms=$tracedArms",
      s"searches sent during one write batch: $probeFailed of $probeSent failed"),
      m ++ Map("wire.read_during_write_failures" -> probeFailed.toDouble,
        "trace.overhead_ms" -> overhead,
        "trace.same_path" -> (if (same) 1.0 else 0.0)), extraCorrect = same)
  }

  /** (every filtered search took its arm, label searches, category searches). */
  private def arms(l: Live, out: Outcome): (Boolean, Int, Int) = {
    val t = l.instances.totals
    def d(k: String) = t(k) - l.startTotals.getOrElse(k, 0L)
    val label = out.samples("search.label").length
    val cat = out.samples("search.category").length
    (d("hnsw_filtered_exact_serves") == label && d("hnsw_filtered_walk_serves") == cat, label, cat)
  }

  private def satisfies(payload: Option[String], c: PayloadCondition): Boolean = {
    import org.json4s._
    payload.flatMap(s => org.json4s.jackson.JsonMethods.parseOpt(s)).exists { j =>
      (j \ c.key) match {
        case JString(s) => s == c.value
        case JInt(i) => i.toString == c.value
        case JLong(i) => i.toString == c.value
        case _ => false
      }
    }
  }
}

object WireWorkload {
  val BaseName = "bench_wire"
  val Points = 2500
  val Dim = 64
  val Clusters = 32
  val Batch = 8
  /** Write batches per timed run: enough for an upsert p50 that is not
    * just the smaller of two samples.
    */
  val TimedRounds = 5
  val SearchClasses = Seq("search.all", "search.label", "search.category")
  val ReadsPerRound = 10
  /** Four of each (transport, filter shape), two in each order. */
  val PairedSearches = 24
  val RecallQueries = 5
  /** Recall below this is reported as a failed run, not a slow one. */
  val RecallFloor = 0.5

  def labelEq(l: Int): PayloadCondition = PayloadCondition("label", "eq", l.toString)
  def categoryEq(c: String): PayloadCondition = PayloadCondition("category", "eq", c)
}
