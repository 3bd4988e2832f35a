package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.functions.MinHashSignature
import graft.ops.Dedup

/** `curate_dedup`: batch near-duplicate curation of a seeded corpus —
  * Zipfian-token documents with planted light-edit families, one bounded
  * templated near-identical family (a hot LSH bucket) and a 64-d
  * embedding per document. Each round runs `Dedup.dedupClustersMinhash`
  * (threshold 0.8) and then `Dedup.embeddingNearDupLsh` (threshold
  * 0.999, nbits=64, bands=4), the production dials.
  */
final class CurateWorkload(spark: SparkSession, seed: Long, work: File,
                           listener: SparkTrace) extends Workload {
  import CurateWorkload._
  import spark.implicits._

  val name = "curate_dedup"
  private var corpus: Gen.Corpus = _
  private var texts: DataFrame = _
  private var embs: DataFrame = _
  private var tokens: Map[Long, Set[String]] = _
  private var vecs: Map[Long, Array[Float]] = _
  /** dup recall of every checked call: one value per call. */
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    corpus = Gen.corpus(seed, Docs)
    tokens = corpus.docs.iterator.map(d => d.id -> Stats.tokenSet(d.text)).toMap
    vecs = corpus.docs.iterator.map(d => d.id -> d.emb).toMap
    texts = corpus.docs.map(d => (d.id, d.text)).toDF("id", "text").cache()
    embs = corpus.docs.map(d => (d.id, d.emb)).toDF("id", "v").cache()
    texts.count(); embs.count()
    // warm-up: checked rounds over the whole corpus, so the timed rounds
    // run plans whose code is already generated and compiled
    val warm = new Outcome
    (1 to WarmUpRounds).foreach(_ => round(warm))
    require(warm.failed.get() == 0, s"warm-up round failed: ${warm.failures.mkString("; ")}")
  }

  def close(): Unit = {
    if (texts != null) texts.unpersist(blocking = true)
    if (embs != null) embs.unpersist(blocking = true)
  }

  private def minhash(): DataFrame = Dedup.dedupClustersMinhash(texts, "id", "text", Threshold)
  private def emb(): DataFrame =
    Dedup.embeddingNearDupLsh(embs, "id", "v", EmbThreshold, nbits = 64, bands = 4)

  /** Components: every document exactly once, each labelled with its
    * component's minimum id, and every member of a multi-document
    * component above the threshold with some other member.
    */
  private def checkComponents(rows: Seq[Row]): Option[String] = {
    val labels = rows.map(r => r.getLong(0) -> r.getLong(1))
    val ids = labels.map(_._1)
    if (ids.length != corpus.docs.length || ids.toSet != vecs.keySet)
      return Some(s"${ids.length} component rows for ${corpus.docs.length} documents")
    val byComp = labels.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    byComp.collectFirst {
      case (c, ms) if ms.min != c => s"component $c has smaller member ${ms.min}"
      case (c, ms) if ms.length > 1 && !ms.forall(a => ms.exists(b => b != a &&
          Stats.jaccard(tokens(a), tokens(b)) >= Threshold - 1e-9)) =>
        s"component $c has a member below the threshold"
    }.orElse {
      val comp = labels.toMap
      recalls += Stats.pairRecall[Long](corpus.pairs, (a, b) => comp(a) == comp(b))
      None
    }
  }

  /** Pairs: a < b, distinct, reported cosine right and at the threshold. */
  private def checkPairs(rows: Seq[Row]): Option[String] = {
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bad = pairs.find { case (a, b, c) =>
      val truth = cos(a, b)
      a >= b || c < EmbThreshold || math.abs(truth - c) > 1e-5 || truth < EmbThreshold - 1e-6
    }
    if (bad.nonEmpty) Some(s"pair ${bad.get} is wrong or below the threshold")
    else if (pairs.map(p => (p._1, p._2)).distinct.length != pairs.length) Some("duplicate pairs")
    else {
      val found = pairs.map(p => (p._1, p._2)).toSet
      recalls += Stats.pairRecall[Long](corpus.pairs,
        (a, b) => found((math.min(a, b), math.max(a, b))))
      None
    }
  }

  private def cos(a: Long, b: Long): Double = Stats.cosine(vecs(a), vecs(b).map(_.toDouble))

  /** One call, timed and checked — `k` 0 the MinHash clusters, 1 the
    * embedding pairs; returns its frame.
    */
  private def call(k: Int, out: Outcome): DataFrame = {
    var df: DataFrame = null
    if (k == 0) out.attempt("minhash") {
      SparkTrace.tagThread(spark)
      df = minhash(); df.collect().toSeq
    }(checkComponents)
    else out.attempt("emb") {
      SparkTrace.tagThread(spark)
      df = emb(); df.collect().toSeq
    }(checkPairs)
    df
  }

  /** One round: both calls; returns the frames. */
  private def round(out: Outcome): Seq[DataFrame] = Seq(call(0, out), call(1, out))

  def measure(seconds: Int): Result = {
    val out = new Outcome
    recalls.clear()
    Common.drain(listener)
    val shuffled0 = listener.get("shuffle_write_bytes")
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < deadline) round(out)
    Common.drain(listener)
    val mh = Stats.series(out.samples("minhash"))
    val em = Stats.series(out.samples("emb"))
    val rounds = math.min(mh.n, em.n)
    // the median round, not the mean: one slow round (a GC, the machine
    // stalling) would otherwise move the whole run's throughput
    val roundMs = Stats.median(out.samples("minhash").zip(out.samples("emb")).map {
      case (a, b) => a + b
    })
    val docsPerS = corpus.docs.length * 1000.0 / roundMs
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
    val spaceAmp = (listener.get("shuffle_write_bytes") - shuffled0).toDouble /
      math.max(1, rounds) / corpusBytes
    Result(out, Seq(
      s"minhash_ms ${mh.describe("ms")} (dedupClustersMinhash over ${corpus.docs.length} docs)",
      s"emb_lsh_ms ${em.describe("ms")} (embeddingNearDupLsh nbits=64 bands=4)",
      f"docs_per_s $docsPerS%.1f (median round $roundMs%.3f ms of $rounds rounds)",
      f"dup_recall $recall%.4f (${corpus.pairs.length} planted pairs on each side, " +
        s"hot family ${Gen.HotMax})",
      f"space_amp $spaceAmp%.3f (shuffle bytes written per round / corpus bytes)"),
      Map("primary_p50_ms" -> mh.p50, "secondary_p50_ms" -> em.p50,
        "items_per_s" -> docsPerS, "recall" -> recall, "space_amp" -> spaceAmp))
  }

  /** Raw corpus bytes: ids, UTF-8 texts and float embeddings. */
  private def corpusBytes: Double =
    corpus.docs.map(d => 16L + d.text.getBytes("UTF-8").length + 4L * d.emb.length).sum.toDouble

  /** Untraced rounds for a third of the time, the same number traced
    * (the per-layer metrics), then [[PairedCalls]] calls each untraced
    * and traced in pairs (the tracing overhead); then the dedup stages
    * each timed as their own public call.
    */
  def traced(seconds: Int): Result = {
    val plain = new Outcome
    val deadline = System.nanoTime() + seconds * 1000000000L / 3
    var plainPlans = Seq.empty[String]
    var rounds = 0
    while (System.nanoTime() < deadline) {
      val fs = round(plain); rounds += 1
      if (plainPlans.isEmpty) plainPlans = fs.filter(_ != null).map(Common.planSignature)
    }

    val out = new Outcome
    Common.drain(listener); listener.reset(); Trace.reset()
    var samePlans = true
    val t1 = System.nanoTime()
    Trace.on((1 to rounds).foreach { i =>
      val fs = Trace.span("ops", "round")(round(out))
      if (i == 1 && fs.filter(_ != null).map(Common.planSignature) != plainPlans) samePlans = false
    })
    val tracedS = (System.nanoTime() - t1) / 1e9
    Common.drain(listener)
    val ops = math.max(1, 2 * rounds).toDouble
    val sparkM = Layers.spark(listener, ops)
    val all = Trace.all
    val keys = listener.stageKeys
    Trace.write(new File(work.getParentFile, s"trace-$name-$seed.jsonl"), all, keys)
    val self = Trace.selfMs(all, keys)
    val embP50 = Stats.series(out.samples("emb")).p50
    val (overhead, overheadSe) = Stats.pairedOverheadMs(PairedCalls, kind = _ % 2)(
      i => call(i % 2, plain)) { i =>
      Trace.on(Trace.span("ops", "call")(call(i % 2, out)))
    }

    // the stages of the pipeline, each as its own public call
    def timed[T](f: => T): (T, Double) = {
      val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e6)
    }
    val candDf = Dedup.minhashCandidates(texts, "id", "text")
    val (cands, candMs) = timed(candDf.collect().length.toLong)
    val verified = Dedup.minhashDedup(texts, "id", "text", Threshold).cache()
    val (ver, verMs) = timed(verified.count())
    val (_, ccMs) = timed(Dedup.connectedComponents(texts.select("id"), "id", verified,
      "a_id", "b_id").count())
    verified.unpersist(blocking = true)
    val maxBucket = maxMinhashBucket()
    val hygiene = maxBucket <= corpus.maxBucket && cands <= corpus.candidatePairBound
    val same = samePlans && plain.failed.get() == 0
    val m = Layers.empty ++ sparkM ++ Map(
      "ops.candidates_ms" -> candMs,
      "ops.verify_ms" -> math.max(0.0, verMs - candMs),
      "ops.cc_ms" -> ccMs,
      "ops.emb_lsh_ms" -> embP50,
      "ops.candidate_pairs" -> cands.toDouble,
      "ops.verified_pairs" -> ver.toDouble,
      "ops.candidate_precision" -> ver.toDouble / math.max(1L, cands),
      "ops.max_bucket_size" -> maxBucket.toDouble,
      "functions.minhash_rows_signed" -> rowsSigned(candDf.queryExecution.executedPlan).toDouble,
      "trace.overhead_ms" -> overhead,
      "trace.same_path" -> (if (same) 1.0 else 0.0)) ++ Layers.self(self, ops)
    Result(out, Seq(
      f"traced $rounds rounds in $tracedS%.3f s; tracing overhead $overhead%.3f ± " +
        f"$overheadSe%.3f ms per call ($PairedCalls pairs with untraced calls)",
      s"same path: plans equal=$samePlans, untraced failures=${plain.failed.get()}; max bucket $maxBucket (bound ${corpus.maxBucket}), " +
        s"candidate pairs $cands (bound ${corpus.candidatePairBound})") ++
      plain.failures.map(f => s"untraced failure: $f"),
      m, extraCorrect = same && hygiene)
  }

  /** Rows one candidate call signed: the input rows of every plan node
    * that evaluates `minhash_signature` (read from the executed plan's
    * row metrics).
    */
  private def rowsSigned(plan: SparkPlan): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    def rowsOut(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
      case Some(m) => m.value
      case None => p.children.map(rowsOut).sum
    }
    helper.collect(plan) {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[MinHashSignature])) =>
        p.children.map(rowsOut).sum
    }.sum
  }

  /** The largest MinHash band bucket, banded as the candidate step bands
    * (16 hashes, 3-word shingles, 4 bands of 4).
    */
  private def maxMinhashBucket(): Long = {
    val sig = texts.select(Dedup.minhashSignature(col("text"), 16, 3).as("sig"))
    val banded = sig.select(posexplode(array((0 until 4).map(b =>
      xxhash64(slice(col("sig"), b * 4 + 1, 4))): _*)).as(Seq("band", "key")))
    banded.groupBy("band", "key").count().agg(max("count")).head().getLong(0)
  }
}

object CurateWorkload {
  val Docs = 8000
  val Threshold = 0.8
  val EmbThreshold = 0.999
  /** Rounds run (untimed) as part of the set-up: in a fresh JVM the
    * first three rounds run up to three times slower than the rest, and
    * the MinHash call keeps getting faster for a few rounds more.
    */
  val WarmUpRounds = 6
  /** Untraced/traced call pairs behind the tracing overhead: each call
    * twice, once in each order.
    */
  val PairedCalls = 4
}
