package graftbench

import java.io.File

/** One workload of the benchmark. `setup` builds everything a run needs
  * from the seed; `measure` is the timed, untraced run; `traced` runs the
  * same operations untraced, traced and untraced again and reports the
  * per-layer metrics.
  */
trait Workload {
  def name: String
  def setup(): Unit
  def measure(seconds: Int): Result
  def traced(seconds: Int): Result
  def close(): Unit
}

/** A run's verdict and metrics. `extraCorrect` carries checks beyond the
  * per-operation ones (the same-path assertion, recall floors).
  */
final case class Result(out: Outcome, lines: Seq[String], metrics: Map[String, Double],
                        extraCorrect: Boolean = true)

/** The per-layer metric names and units every traced run reports (zero
  * where a workload does not reach the layer).
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "spark.analysis_ms" -> "ms", "spark.optimizer_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.scheduler_wait_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.executor_run_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_fetch_wait_ms" -> "ms", "spark.spill_bytes" -> "bytes",
    "spark.task_failures" -> "count", "spark.upsert_jobs" -> "count", "spark.self_ms" -> "ms",
    "sources.store_calls_per_query" -> "count", "sources.points_fetched_per_query" -> "count",
    "sources.points_per_result" -> "ratio", "sources.fetch_ms" -> "ms",
    "sources.topk_index_served" -> "ratio",
    "store.search_ms" -> "ms", "store.search_calls" -> "count",
    "store.hnsw_segments_loaded" -> "count", "store.hnsw_filtered_walk_serves" -> "count",
    "store.hnsw_filtered_exact_serves" -> "count", "store.hnsw_tail_rescored" -> "count",
    "store.files_opened" -> "count", "store.row_groups_read" -> "count",
    "store.write_ms" -> "ms", "store.hnsw_inc_inserts" -> "count",
    "store.bulk_reseals" -> "count", "store.dir_bytes" -> "bytes",
    "store.log_entries" -> "count", "store.space_amp" -> "ratio", "store.self_ms" -> "ms",
    "wire.grpc.requests" -> "count", "wire.grpc.bytes_in" -> "bytes",
    "wire.grpc.bytes_out" -> "bytes", "wire.rest.requests" -> "count",
    "wire.rest.bytes_out" -> "bytes", "wire.bytes_per_search" -> "bytes",
    "wire.overhead_ms" -> "ms", "wire.errors" -> "count", "wire.self_ms" -> "ms",
    "wire.read_during_write_failures" -> "count",
    "ops.candidates_ms" -> "ms", "ops.verify_ms" -> "ms", "ops.cc_ms" -> "ms",
    "ops.emb_lsh_ms" -> "ms", "ops.candidate_pairs" -> "count",
    "ops.verified_pairs" -> "count", "ops.candidate_precision" -> "ratio",
    "ops.max_bucket_size" -> "count", "ops.self_ms" -> "ms",
    "functions.vectors_scored_per_query" -> "count",
    "functions.bytes_scored_per_query" -> "bytes", "functions.minhash_rows_signed" -> "count",
    "bench.self_ms" -> "ms", "trace.overhead_ms" -> "ms", "trace.same_path" -> "bool")

  def empty: Map[String, Double] = units.map(_._1 -> 0.0).toMap

  /** The listener's totals as per-operation figures. */
  def spark(l: SparkTrace, ops: Double): Map[String, Double] = Map(
    "spark.jobs_per_op" -> l.get("jobs") / ops,
    "spark.stages_per_op" -> l.get("stages") / ops,
    "spark.tasks_per_op" -> l.get("tasks") / ops,
    "spark.scheduler_wait_ms" -> l.get("scheduler_delay_ms") / ops,
    "spark.executor_cpu_ms" -> l.get("executor_cpu_ns") / 1e6 / ops,
    "spark.executor_run_ms" -> l.get("executor_run_ms") / ops,
    "spark.gc_ms" -> l.get("gc_ms") / ops,
    "spark.shuffle_write_bytes" -> l.get("shuffle_write_bytes") / ops,
    "spark.shuffle_read_bytes" -> l.get("shuffle_read_bytes") / ops,
    "spark.shuffle_fetch_wait_ms" -> l.get("shuffle_fetch_wait_ms") / ops,
    "spark.spill_bytes" -> l.get("spill_bytes") / ops,
    "spark.task_failures" -> l.get("task_failures").toDouble)

  /** Self time per operation of each layer that recorded spans. */
  def self(selfMs: Map[String, Double], ops: Double): Map[String, Double] =
    selfMs.collect { case (layer, ms) if empty.contains(s"$layer.self_ms") =>
      s"$layer.self_ms" -> ms / ops
    }
}

/** The benchmark's entry point (see perfbench/README.md):
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a report, then as its last line one JSON object with the
  * verdict and the metrics. Exits non-zero without a result line when
  * anything fails to run.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "primary_p50_ms" -> "ms", "secondary_p50_ms" -> "ms",
    "items_per_s" -> "1/s", "recall" -> "ratio", "space_amp" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    work.mkdirs()
    val listener = new SparkTrace
    val spark = Common.session(work, listener)
    val w: Workload = workload match {
      case "sql_collection" => new SqlWorkload(spark, seed, work, listener)
      case "wire_serve" => new WireWorkload(spark, seed, work, listener)
      case "curate_dedup" => new CurateWorkload(spark, seed, work, listener)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val code = try {
      val setupS = Common.timeS(w.setup())._2
      say(s"workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")
      say(f"setup_s $setupS%.3f")
      val r = if (trace) w.traced(seconds) else w.measure(seconds)
      r.lines.foreach(say)
      val failed = r.out.failed.get()
      val correct = failed == 0 && r.extraCorrect
      say(s"correctness: attempted=${r.out.attempted.get()} failed=$failed " +
        s"(errors=${r.out.errors.get()}) verdict=${if (correct) "PASS" else "FAIL"}")
      r.out.failures.foreach(f => say(s"failure: $f"))
      val metrics: Seq[(String, Double, String)] =
        if (trace) Layers.units.map { case (n, u) =>
          // a layer metric with no samples (every call failed) reads 0
          (n, r.metrics.get(n).filterNot(_.isNaN).getOrElse(0.0), u)
        }
        else EndToEnd.map { case (n, u) =>
          (n, if (n == "setup_s") setupS else r.metrics(n), u)
        }
      metrics.foreach { case (n, v, _) =>
        require(!v.isNaN && !v.isInfinite, s"metric $n is not a number")
      }
      val body = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${v}, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": ${math.max(1L, r.out.attempted.get())}, """ +
        s""""failed": $failed, "metrics": {$body}}""")
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    } finally {
      try w.close() finally spark.stop()
    }
    System.out.flush()
    sys.exit(code)
  }

  def say(s: String): Unit = println(s"[perfbench] $s")
}
