package graftbench

/** Tests of the benchmark's own logic: the percentile rule and its
  * sample count, recall on hand-made cases, the reference top-k
  * tiebreak, the correctness predicates, plan signatures, span self
  * time, and seeded generators giving byte-identical inputs. Run with
  * `python3 perfbench/build.py test`; exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble).reverse
      eq(Stats.percentile(xs, 50), 50.0)
      eq(Stats.percentile(xs, 90), 90.0)
      eq(Stats.percentile(xs, 100), 100.0)
      eq(Stats.percentile(Seq(7.0), 90), 7.0)
      eq(Stats.percentile(Seq(1.0, 2.0, 3.0), 50), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.0)
    }
    test("p90 needs ten samples beyond it, and the series says so") {
      eq(Stats.beyond(100, 90), 10)
      eq(Stats.beyond(99, 90), 9)
      eq(Stats.beyond(1000, 90), 100)
      val s = Stats.series((1 to 40).map(_.toDouble))
      eq(s.n, 40)
      eq(s.p90Supported, false)
      assert(s.describe("ms").contains("n=40") && s.describe("ms").contains("4 samples beyond"))
      assert(Stats.series((1 to 100).map(_.toDouble)).p90Supported)
    }
    test("tracing overhead pairs each operation, alternating the order") {
      // a fake clock: every operation costs 10 ms less than the one
      // before it (the run warming up); traced ones cost 2 ms more
      var now = 0L
      var cost = 100L
      def op(extra: Long): Unit = { now += (cost + extra) * 1000000L; cost -= 10 }
      var order = Seq.empty[String]
      val ms = Stats.pairedOverheadMs(4, clock = () => now)(i => { order :+= s"p$i"; op(0) })(
        i => { order :+= s"t$i"; op(2) })
      eq(order, Seq("p0", "t0", "t1", "p1", "p2", "t2", "t3", "p3"))
      eq(ms._1, 2.0) // pairs -8, 12, -8, 12: the warm-up cancels
      assert(math.abs(ms._2 - math.sqrt(400.0 / 3) / 2) < 1e-9, s"standard error ${ms._2}")
      eq(Stats.pairedOverheadMs(0)(_ => ())(_ => ()), (0.0, 0.0))
      // kinds in a cycle of two: the order alternates within each kind
      order = Nil
      Stats.pairedOverheadMs(4, kind = _ % 2)(i => order :+= s"p$i")(i => order :+= s"t$i")
      eq(order, Seq("p0", "t0", "p1", "t1", "t2", "p2", "t3", "p3"))
    }
    test("plan signatures ignore stage numbering, not strategy") {
      // two executed plans of one embeddingNearDupLsh call whose
      // adaptive stages finished in a different order
      val a = """ResultQueryStage 6
        |+- *(5) BroadcastHashJoin [b_id#41L], [b_id#57L], Inner, BuildRight
        |   :- ShuffleQueryStage 3
        |   :  +- *(1) Project [id#12L, lsh_signature(v#13, 64, 64, 42) AS bucket#40L]
        |   :     +- TableCacheQueryStage 0
        |   +- BroadcastQueryStage 5
        |      +- *(2) Filter isnotnull(v#13)
        |         +- TableCacheQueryStage 2""".stripMargin
      val b = a.replace("*(1)", "*(x)").replace("*(2)", "*(1)").replace("*(x)", "*(2)")
        .replace("Stage 6", "Stage 7").replace("#41L", "#93L")
      eq(Common.planText(a), Common.planText(b))
      assert(Common.planText(a) != Common.planText(a.replace("BuildRight", "BuildLeft")))
      assert(Common.planText(a) != Common.planText(a.replace("*(2) Filter", "Filter")))
    }
    test("recall@10 on hand-made answers") {
      val truth = (1 to 10).map(i => s"p$i")
      eq(Stats.recallAtK(truth.reverse, truth), 1.0)
      eq(Stats.recallAtK(truth.take(7) ++ Seq("x", "y", "z"), truth), 0.7)
      eq(Stats.recallAtK(Nil, truth), 0.0)
    }
    test("dup recall counts planted pairs put together") {
      val comp = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L)
      val planted = Seq((1L, 2L), (3L, 4L), (4L, 5L), (1L, 5L))
      eq(Stats.pairRecall[Long](planted, (a, b) => comp(a) == comp(b)), 0.5)
      eq(Stats.pairRecall[Long](Nil, (_, _) => false), 1.0)
    }
    test("reference top-k breaks score ties by id in UTF-8 byte order") {
      val v = Array(1f, 0f)
      val rows = Seq("b" -> v, "a" -> v, "c" -> Array(0f, 1f), "é" -> v, "Z" -> v)
      val top = Stats.exactTopK(rows, Array(1.0, 0.0), 3)
      eq(top.map(_._1), Seq("Z", "a", "b"))
      eq(Stats.exactTopK(rows, Array(0.0, 1.0), 1).map(_._1), Seq("c"))
      assert(Stats.idLess("z", "é"))
    }
    test("top-k check accepts equal-score swaps only") {
      val truth = Seq(("a", 0.9), ("b", 0.5), ("c", 0.5))
      val scores = Map("a" -> 0.9, "b" -> 0.5, "c" -> 0.5, "d" -> 0.1)
      assert(Stats.topKCorrect(truth, truth, scores.get))
      assert(!Stats.topKCorrect(Seq(("a", 0.9), ("c", 0.5), ("b", 0.5)), truth, scores.get))
      assert(!Stats.topKCorrect(Seq(("a", 0.9), ("b", 0.5), ("d", 0.5)), truth, scores.get))
      assert(!Stats.topKCorrect(truth.take(2), truth, scores.get))
      assert(Stats.sortedBest(Seq(("b", 0.9), ("a", 0.5))))
      assert(!Stats.sortedBest(Seq(("a", 0.5), ("b", 0.9))))
    }
    test("token-set jaccard") {
      def j(a: String, b: String) = Stats.jaccard(Stats.tokenSet(a), Stats.tokenSet(b))
      eq(j("a b c d", "a b c e"), 3.0 / 5)
      eq(j("A a b", "a B"), 1.0)
    }
    test("self time subtracts the covered part of each span") {
      val spans = Seq(
        Span(1, 1, 0, "", "bench", "op", 0, 100),
        Span(1, 2, 1, "", "spark", "job", 10, 60),
        Span(1, 3, 1, "", "spark", "job", 40, 80),
        Span(1, 4, 0, "stage:7", "store", "pull", 20, 30),
        Span(1, 5, 2, "", "store", "call", 50, 70))
      val self = Trace.selfMs(spans, Map("stage:7" -> 2L))
      def near(a: Double, b: Double) = assert(math.abs(a - b) < 1e-12, s"$a != $b")
      near(self("bench"), 30 / 1e6)        // 100 - [10, 80)
      near(self("spark"), (50 - 10 - 10 + 40) / 1e6) // job 2 minus pull and [50,60); job 3
      near(self("store"), 30 / 1e6)
    }
    test("generators: same seed, byte-identical inputs; another seed differs") {
      val a = Gen.collection(7, 500, 16, 8)
      val b = Gen.collection(7, 500, 16, 8)
      eq(Gen.fingerprintCollection(a), Gen.fingerprintCollection(b))
      assert(Gen.fingerprintCollection(Gen.collection(8, 500, 16, 8)) != Gen.fingerprintCollection(a))
      eq(Gen.statements(7, a).take(50).map(_.sql).toList, Gen.statements(7, b).take(50).map(_.sql).toList)
      val c1 = Gen.corpus(7, 3000)
      val c2 = Gen.corpus(7, 3000)
      eq(Gen.fingerprintCorpus(c1), Gen.fingerprintCorpus(c2))
      eq(c1.pairs, c2.pairs)
      assert(Gen.fingerprintCorpus(Gen.corpus(8, 3000)) != Gen.fingerprintCorpus(c1))
    }
    test("corpus: planted pairs clear the thresholds; the hot family is bounded") {
      val c = Gen.corpus(3, 3000)
      eq(c.docs.length, 3000)
      eq(c.docs.count(_.text.endsWith(" t0")), 1)
      assert(c.maxBucket <= Gen.HotMax)
      assert(c.candidatePairBound <= Gen.pairBudget(3000))
      val byId = c.docs.map(d => d.id -> d).toMap
      c.pairs.foreach { case (a, b) =>
        assert(Stats.jaccard(Stats.tokenSet(byId(a).text), Stats.tokenSet(byId(b).text)) >= 0.8,
          s"text pair $a,$b")
        assert(Stats.cosine(byId(a).emb, byId(b).emb.map(_.toDouble)) >= 0.999, s"emb pair $a,$b")
      }
    }
    test("SQL query literals parse back to the generated doubles") {
      val c = Gen.collection(5, 100, 16, 4)
      val q = Gen.query(Gen.rng(5, 2), c.centres)
      val lits = Gen.TopK(q, None).sql.split("array\\(")(1).takeWhile(_ != ')')
        .split(", ").map(_.stripSuffix("D").toDouble)
      eq(lits.toSeq, q.toSeq)
    }
    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
