package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a 4-node path graph 1-2-3-4 plus a hub 5 connected to everything:
  // the hub must out-rank every path node
  private def edges = Graph.undirectedEdges(
    Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L)).toDF("a", "b"),
    "a", "b", dstOffset = 0L)

  test("pageRank ranks the hub above path nodes and conserves no more than total mass") {
    val r = Graph.pageRank(edges, iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(r(5L) > r.filterKeys(_ != 5L).values.max,
      s"hub should dominate: $r")
    // integer floors only lose mass, never create it
    assert(r.values.sum <= Graph.Scale, s"mass grew: $r")
    assert(r.values.sum > Graph.Scale / 2, s"mass collapsed: $r")
  }

  test("pageRank is invariant to edge-list partitioning and row order") {
    val a = Graph.pageRank(edges.repartition(7), iterations = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.pageRank(
        edges.orderBy(col("dst").desc).repartition(2), iterations = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("symmetric graph converges toward the uniform rank") {
    // a 4-cycle is vertex-transitive: all ranks must be EXACTLY equal
    val cyc = Graph.undirectedEdges(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b"),
      "a", "b", dstOffset = 0L)
    val r = Graph.pageRank(cyc, iterations = 3)
      .collect().map(_.getLong(1)).distinct
    assert(r.length == 1, s"vertex-transitive graph got uneven ranks: ${r.toSeq}")
  }

  /** Run `body` with the driver arm disabled so the distributed loop's
    * plan shape is what's under test.
    */
  private def withLoopArm[A](body: => A): A = {
    spark.conf.set("graft.pagerank.driverMaxEdges", "0")
    try body finally spark.conf.unset("graft.pagerank.driverMaxEdges")
  }

  test("driver arm (small graph) is bit-identical to the distributed loop") {
    val m = Graph.materialize(edges)
    val viaDriver = Graph.pageRank(m, iterations = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    val viaLoop = withLoopArm {
      Graph.pageRank(m, iterations = 5)
        .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    }
    assert(viaDriver == viaLoop)
  }

  test("driver arm equals the distributed loop on an edge list with a null id") {
    // a null src is its own (un-joinable) node; a null end carries no rank
    val m = Graph.materialize(Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (null, 1L), (3L, null)).toDF("src", "dst"))
    def run(): Seq[(Option[Long], Long)] = Graph.pageRank(m, iterations = 4).collect()
      .map(x => (Option(x.get(0)).map(_.asInstanceOf[Long]), x.getLong(1))).toSeq.sortBy(_._1)
    val viaDriver = run()
    assert(viaDriver === withLoopArm(run()))
    assert(viaDriver.map(_._1) === Seq(None, Some(1L), Some(2L), Some(3L)))
  }

  test("a graph under the node cap but over it in edges takes the loop, with the driver arm's ranks") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    def ranks(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    val m = Graph.materialize(edges)
    // 5 nodes, 14 directed edges: a cap of 10 admits the nodes only
    assert(m.n === 5L)
    assert(m.outdeg.agg(sum(col("outdeg"))).head().getLong(0) === 14L)
    val viaDriver = Graph.pageRank(m, iterations = 5)
    assert(joins(viaDriver) === 0)
    spark.conf.set("graft.pagerank.driverMaxEdges", "10")
    try {
      val capped = Graph.pageRank(m, iterations = 5)
      assert(joins(capped) > 0, "the driver arm served past its edge cap")
      assert(ranks(capped) === ranks(viaDriver))
    } finally spark.conf.unset("graft.pagerank.driverMaxEdges")
  }

  test("shuffle-join arm (above the broadcast cap) is bit-identical to the broadcast arm") {
    val m = Graph.materialize(edges)
    withLoopArm {
      val small = Graph.pageRank(m, iterations = 5)
        .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
      val big = Graph.pageRank(m, iterations = 5, broadcastMaxNodes = 0L)
        .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
      assert(small == big)
    }
  }

  test("above the node cap no broadcast hint enters the contribution join") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.logical.HintInfo
    def hints(df: org.apache.spark.sql.DataFrame): Seq[HintInfo] =
      df.queryExecution.optimizedPlan.collect {
        case j: Join => Seq(j.hint.leftHint, j.hint.rightHint).flatten
      }.flatten
    val m = Graph.materialize(edges)
    withLoopArm {
      val below = Graph.pageRank(m, iterations = 1)
      assert(hints(below).exists(_.strategy.isDefined),
        "below the cap the rank table should carry the broadcast hint")
      val above = Graph.pageRank(m, iterations = 1, broadcastMaxNodes = 0L)
      assert(!hints(above).exists(_.strategy.isDefined),
        "above the cap no join may be hinted broadcast — the rank table is node-sized")
    }
  }

  test("pinned layout (big-graph arm) is bit-identical and keeps the pinned partitioning") {
    // force the pin on the tiny graph: same ranks as the AQE-managed
    // layout, on both join arms
    val pinned = Graph.materialize(edges, pinLayoutMinNodes = 0L)
    val free = Graph.materialize(edges)
    // the pinned edge/outdeg checkpoints must carry hashpartitioning —
    // the property every iteration's exchange-free join rests on (a
    // plain AQE checkpoint records UnknownPartitioning; r18 finding)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def partitioning(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.outputPartitioning
    assert(partitioning(pinned.edges).toString.contains("hashpartitioning"),
      s"pinned edges lost their layout: ${partitioning(pinned.edges)}")
    assert(partitioning(pinned.outdeg).toString.contains("hashpartitioning"),
      s"pinned outdeg lost its layout: ${partitioning(pinned.outdeg)}")
    // and a src-keyed aggregation over the pinned edges plans WITHOUT
    // any exchange — the co-partitioning is real, not cosmetic
    val agg = pinned.edges.groupBy(col("src")).count()
    val exchanges = agg.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"src-keyed agg over pinned edges re-shuffled: ${agg.queryExecution}")
    withLoopArm {
      for (arm <- Seq(4000000L, 0L)) {
        val a = Graph.pageRank(pinned, iterations = 4, broadcastMaxNodes = arm)
          .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
        val b = Graph.pageRank(free, iterations = 4, broadcastMaxNodes = arm)
          .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
        assert(a == b, s"pinned vs free layout diverged on arm $arm")
      }
    }
  }

  test("undirectedEdges offsets the dst id space and emits both directions") {
    val e = Graph.undirectedEdges(Seq((1L, 1L)).toDF("a", "b"), "a", "b",
      dstOffset = 100L).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 101L), (101L, 1L)))
  }
}
