package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's own arithmetic: percentiles, recall and the exact
  * references every engine answer is checked against. Pure functions,
  * covered by [[SelfTest]].
  */
object Stats {

  /** Nearest-rank percentile of `xs` (unsorted): the smallest sample with
    * at least `p` percent of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile must be in (0, 100], got $p")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the nearest-rank `p`-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** One latency series as reported: count, p50, p90, and whether p90
    * has the ten samples beyond it that make it meaningful.
    */
  final case class Series(n: Int, p50: Double, p90: Double) {
    def p90Supported: Boolean = beyond(n, 90) >= 10
    def describe(unit: String): String =
      f"n=$n p50=$p50%.3f$unit p90=$p90%.3f$unit" +
        (if (p90Supported) "" else s" (p90 has ${beyond(n, 90)} samples beyond it, below 10)")
  }

  def series(xs: Seq[Double]): Series =
    if (xs.isEmpty) Series(0, Double.NaN, Double.NaN)
    else Series(xs.length, percentile(xs, 50), percentile(xs, 90))

  /** The typical latency of a class of mixed shapes: the geometric mean
    * of each shape's p50. The overall median of a mix falls between the
    * shapes' modes and jumps with small shifts of either; this does not.
    */
  def shapeP50(byShape: Seq[Seq[Double]]): Double = {
    val ms = byShape.filter(_.nonEmpty).map(median)
    require(ms.nonEmpty, "no samples in any shape")
    math.exp(ms.map(math.log).sum / ms.length)
  }

  /** Tracing cost per operation in ms: each of `n` operations runs once
    * untraced (`plain(i)`) and once traced (`traced(i)`), back to back,
    * the order alternating from one operation of a kind (`kind(i)`) to
    * the next of the same kind — so neither the run speeding up as it
    * warms nor the second run of an operation finding warm caches counts
    * as tracing cost, even when the kinds come in a fixed cycle. Returns
    * the mean of traced minus untraced time and its standard error.
    */
  def pairedOverheadMs(n: Int, kind: Int => Any = _ => (),
                       clock: () => Long = () => System.nanoTime())(
      plain: Int => Unit)(traced: Int => Unit): (Double, Double) = {
    val seen = scala.collection.mutable.Map.empty[Any, Int].withDefaultValue(0)
    val diffs = (0 until n).map { i =>
      val k = kind(i)
      val order = if (seen(k) % 2 == 0) Seq(false, true) else Seq(true, false)
      seen(k) += 1
      order.map { t =>
        val t0 = clock()
        if (t) traced(i) else plain(i)
        val d = (clock() - t0) / 1e6
        if (t) d else -d
      }.sum
    }
    if (n == 0) (0.0, 0.0)
    else {
      val mean = diffs.sum / n
      val se = if (n < 2) Double.NaN
        else math.sqrt(diffs.map(d => (d - mean) * (d - mean)).sum / (n - 1) / n)
      (mean, se)
    }
  }

  /** recall@k: the share of the true top-k ids present in the answer. */
  def recallAtK(got: Seq[String], truth: Seq[String]): Double =
    if (truth.isEmpty) 1.0 else truth.count(got.toSet).toDouble / truth.length

  /** Planted pairs found: a pair counts when the finder puts both ends
    * together (`together(a, b)`); pairs are unordered.
    */
  def pairRecall[A](planted: Seq[(A, A)], together: (A, A) => Boolean): Double =
    if (planted.isEmpty) 1.0
    else planted.count { case (a, b) => together(a, b) }.toDouble / planted.length

  /** Spark's string order (UTF-8 bytes, unsigned) — the id tiebreak. */
  def idLess(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** Cosine in double arithmetic over the float-stored vector. */
  def cosine(v: Array[Float], q: Array[Double]): Double = {
    var dot = 0.0; var nv = 0.0; var nq = 0.0; var i = 0
    while (i < v.length) {
      val x = v(i).toDouble
      dot += x * q(i); nv += x * x; nq += q(i) * q(i); i += 1
    }
    if (nv == 0.0 || nq == 0.0) 0.0 else dot / math.sqrt(nv * nq)
  }

  /** Ordering of scored ids: score descending, then id ascending. */
  def better(a: (String, Double), b: (String, Double)): Boolean =
    if (a._2 != b._2) a._2 > b._2 else idLess(a._1, b._1)

  /** Exact top-k by cosine with the id tiebreak, over (id, vector) rows. */
  def exactTopK(rows: Iterable[(String, Array[Float])], q: Array[Double],
                k: Int): IndexedSeq[(String, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(String, Double)](
      (x: (String, Double), y: (String, Double)) =>
        if (better(x, y)) -1 else if (better(y, x)) 1 else 0)
    rows.foreach { case (id, v) =>
      val s = (id, cosine(v, q))
      if (heap.size < k) heap.enqueue(s)
      else if (better(s, heap.head)) { heap.dequeue(); heap.enqueue(s) }
    }
    heap.dequeueAll.reverse.toIndexedSeq
  }

  /** Is `got` a correct top-k against the exact ranking `truth` (same k)?
    * Scores agree within `eps` rank by rank, the answer is sorted, and
    * every returned id carries its own true score — so ties at equal
    * score may resolve either way only where the scores are equal.
    */
  def topKCorrect(got: Seq[(String, Double)], truth: Seq[(String, Double)],
                  trueScore: String => Option[Double], eps: Double = 1e-6): Boolean =
    got.length == truth.length &&
      got.map(_._1).distinct.length == got.length &&
      got.zip(truth).forall { case (g, t) => math.abs(g._2 - t._2) <= eps } &&
      got.forall { case (id, s) => trueScore(id).exists(ts => math.abs(ts - s) <= eps) } &&
      sortedBest(got, eps)

  /** Scores non-increasing; equal scores (within eps) in id order. */
  def sortedBest(got: Seq[(String, Double)], eps: Double = 1e-9): Boolean =
    got.sliding(2).forall {
      case Seq(a, b) =>
        a._2 > b._2 + eps || (math.abs(a._2 - b._2) <= eps && (a._2 > b._2 || idLess(a._1, b._1)))
      case _ => true
    }

  /** Jaccard of two token sets ([[tokenSet]]) — the similarity the
    * engine's MinHash verification thresholds.
    */
  def jaccard(ta: Set[String], tb: Set[String]): Double = {
    val inter = ta.count(tb)
    val uni = ta.size + tb.size - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  /** The lower-cased whitespace tokens of a text, as a set. */
  def tokenSet(s: String): Set[String] =
    s.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty).toSet
}
