package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Targeted A/B measurement harness for the optimization rounds —
  * committed deliberately alongside [[Explain]] as measurement tooling
  * (guide §1): edit the `variants` list to the pipeline stages under
  * study, run with SPARK_GRAFT_SF_DIR/SPARK_GRAFT_REPEAT. Not an engine
  * path; the shipped variants are whatever the last investigation
  * probed.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    // r19 SCALING PROBE (VERDICT item 7): 16x-replicated corpus, run at
    // SPARK_GRAFT_CPUS=32 then 8 — a c8/c32 ratio near 1 on 16x data
    // means the gate is still overhead-bound, not operator-bound.
    // replica i shifts ids by i * (max id + 1), so replicas never
    // collide at any scale
    val N = sys.env.getOrElse("SPARK_GRAFT_REPL", "16").toInt
    def stride(df: DataFrame, id: String): Long =
      Option(df.agg(max(col(id)).cast("long")).head().get(0))
        .fold(0L)(_.asInstanceOf[Long]) + 1L
    val d0 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val dStride = stride(d0, "doc_id")
    val docsN = (0 until N).map(i => d0.select(
      (col("doc_id") + lit(i * dStride)).as("doc_id"),
      col("text"), col("lang"), col("source"))).reduce(_ union _)
      .localCheckpoint()
    val e0 = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("props"))
    val eStride = stride(e0, "event_id")
    val eventsN = (0 until N).map(i => e0.select(
      (col("event_id") + lit(i * eStride)).as("event_id"),
      col("props"))).reduce(_ union _).localCheckpoint()
    val variants: Seq[(String, () => DataFrame)] = Seq(
      "dup_ngram_top" -> (() => graft.ops.TextAnalysis
        .topDuplicatedNgrams(docsN, "text", n = 5, k = 20)),
      "span_stats" -> (() => graft.ops.Dedup
        .spanStats(docsN, "doc_id", "text")),
      "tfidf_topk" -> (() => graft.ops.TextAnalysis
        .tfidfTopTerms(docsN, "doc_id", "text", perDoc = 3)),
      "unigram_logprob" -> (() => graft.ops.TextAnalysis
        .unigramLogProb(docsN, "doc_id", "text")),
      "cc_minhash" -> (() => graft.ops.Dedup
        .dedupClustersMinhash(docsN, "doc_id", "text", threshold = 0.8)),
      "json_surface" -> (() => eventsN
        .select(col("event_id"),
          from_json(col("props"), MapType(StringType, StringType)).as("__m"))
        .select(col("event_id"),
          array_join(map_keys(col("__m")), ",").as("ks"),
          size(map_keys(col("__m"))).as("n_keys")))
    )

    variants.foreach { case (name, fn) =>
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = times(times.length / 2)
      println(f"[probe] $name%-14s med=$med%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
