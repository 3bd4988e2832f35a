package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph operators over edge-list DataFrames.
  *
  * PageRank here is the link-quality signal a training-data pipeline uses
  * to score crawled documents (OPIC/harmonic-centrality stand-ins all share
  * this shape). The ranks are held as SCALED LONGS (1e12 = mass 1.0) and
  * every per-iteration update is integer arithmetic (`div`, floor), so the
  * result is bit-identical regardless of partitioning, layout, or
  * accumulation order — the same determinism recipe as the engine's
  * DECIMAL-quantized IVF centroid updates.
  *
  * Scale shape per iteration: ONE shuffle (contributions groupBy dst; the
  * rank join is co-partitioned with the edge table after the first
  * iteration) and a per-iteration localCheckpoint that truncates the
  * lineage — the same iterative-plan hygiene as
  * [[Dedup.connectedComponents]]. Driver state is one scalar (node count).
  */
object Graph {

  /** Rank mass 1.0 in scaled-long units. */
  val Scale: Long = 1000000000000L

  /** Undirected edge list (both directions) from a distinct pair column
    * set — e.g. the supplier<->part co-purchase graph of `lineitem`.
    * `dstOffset` lifts the dst id space so bipartite ids never collide.
    */
  def undirectedEdges(df: DataFrame, srcCol: String, dstCol: String,
                      dstOffset: Long): DataFrame = {
    val pairs = df.select(col(srcCol).cast(LongType).as("s"),
      (col(dstCol).cast(LongType) + dstOffset).as("d")).distinct()
    pairs.select(col("s").as("src"), col("d").as("dst"))
      .union(pairs.select(col("d").as("src"), col("s").as("dst")))
  }

  /** Integer-scaled PageRank over an edge list with columns (src, dst).
    *
    * Update rule (all integer ops, damping d = `dampNum`/100):
    *   contrib(e)  = rank(src) div outdeg(src)
    *   rank'(v)    = (Scale * (100 - dampNum) / 100) div N
    *               + (sum contrib into v) * dampNum div 100
    * Nodes with no in-edges keep the base term. Dangling mass is dropped
    * (an undirected edge list has none); total mass therefore decays
    * slightly per iteration, which is harmless for RANKING and keeps the
    * update order-free.
    *
    * Returns (id, rank_scaled) for every node.
    */
  /** See class docs. `checkpointEvery` bounds lineage depth: iteration
    * plans nest until a localCheckpoint truncates them every that-many
    * rounds (per-iteration checkpointing costs more than it saves at
    * shallow depths; deep runs need the truncation or planning goes
    * quadratic — the [[Dedup.connectedComponents]] trade, parameterized).
    * The per-iteration rank table is NODE-sized — for the link-quality
    * use case (scoring crawled documents) nodes ≈ documents, so it only
    * broadcasts into the edge join below an explicit node-count cap
    * (`broadcastMaxNodes`, the [[Ann.exactKnnGraph]] priced-opt-in
    * discipline). Above the cap the contribution join is a SHUFFLE hash
    * join against the edge list, which [[materialize]] pre-partitions by
    * `src` — so per iteration only the node-sized rank table re-shuffles
    * (plus the contribution groupBy(dst)); the 100-TB edge list never
    * moves after the materialize.
    */
  /** Materialized graph structure: checkpointed edges (hash-partitioned
    * by `src` so every iteration's contribution join co-locates against
    * it shuffle-free), node set, node count, and out-degrees — the
    * load-once artifact every graph algorithm call shares (in production
    * this is the stored adjacency table; rebuilding it per query would
    * re-shuffle the edge list).
    */
  final case class EdgeModel(edges: DataFrame, nodes: DataFrame,
                             n: Long, outdeg: DataFrame)

  /** `pinLayoutMinNodes`: PIN the src-hash layout (AQE-off checkpoint,
    * [[PlanUtil.checkpointKeepPartitioning]]) only for graphs at least
    * this large. A plain localCheckpoint under AQE records
    * UnknownPartitioning (r18 finding, plans/r18/
    * pagerank_topk_before.txt), so on big graphs — the ones that take
    * pageRank's SHUFFLE arm — every iteration re-exchanged the edge
    * table, exactly the cost this materialize exists to avoid. Pinning
    * fixes that, but it also freezes the partition count at
    * spark.sql.shuffle.partitions, denying AQE's small-scale
    * coalescing: measured on the sf0.1 bench graph (21k nodes),
    * always-pinning cost +1.1 s of pure task-launch overhead while
    * saving nothing (the broadcast arm never moves the edges anyway).
    * So the layout decision is DATA-ADAPTIVE (guide §2: derive
    * partitioning from input size, not a constant tuned for one
    * deployment): below the threshold the checkpoint stays AQE-managed;
    * at/above it the pinned layout makes every iteration's contribution
    * join AND rank update exchange-free and sort-free on the edge/node
    * side. The default matches `broadcastMaxNodes` — the node count at
    * which pageRank stops broadcasting and starts needing the pin.
    */
  def materialize(edges: DataFrame,
                  pinLayoutMinNodes: Long = 4000000L): EdgeModel = {
    val raw = edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst"))
      .repartition(col("src")).sortWithinPartitions(col("src"))
    val e0 = raw.localCheckpoint()
    val out0 = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .sortWithinPartitions(col("src")).localCheckpoint()
    // node set == src set == outdeg's key set by construction (the
    // symmetrized edge list), so counting the checkpointed outdeg both
    // materializes it and yields n — no separate distinct pass
    val n = out0.count()
    require(n > 0, "graph materialize needs a non-empty edge list")
    if (n < pinLayoutMinNodes) {
      // small graph: iterations run on the broadcast arm where the edge
      // table streams through a BHJ untouched — keep AQE's coalesced
      // layout and skip the extra materialize pass
      EdgeModel(e0, out0.select(col("src").as("id")), n, out0)
    } else {
      // big graph: one more pass over the checkpointed blocks pins
      // hashpartitioning(src, P) + the in-partition sort into the
      // LogicalRDD. outdeg then groups BY the pinned key (partial+final
      // agg, no exchange) and keeps the same pinned layout, so no later
      // job — not an iteration's contribution join, not the rank
      // update — ever shuffles OR sorts the (100 TB-sized) edge list or
      // the node table again; only node-sized contribution tables move.
      val e = PlanUtil.checkpointKeepPartitioning(
        e0.repartition(col("src")).sortWithinPartitions(col("src")))
      val outdeg = PlanUtil.checkpointKeepPartitioning(
        e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
          .sortWithinPartitions(col("src")))
      EdgeModel(e, outdeg.select(col("src").as("id")), n, outdeg)
    }
  }

  def pageRank(edges: DataFrame, iterations: Int): DataFrame =
    pageRank(materialize(edges), iterations)

  def pageRank(edges: DataFrame, iterations: Int, dampNum: Int): DataFrame =
    pageRank(materialize(edges), iterations, dampNum)

  /** `broadcastMaxNodes`: broadcast the per-iteration rank table into
    * the edge join only when the graph holds at most this many nodes
    * (at 8+8 bytes a row, the default ~4M nodes is a few-hundred-MB
    * executor-side table — the outer edge of a sane per-iteration
    * broadcast). Bigger graphs take the co-partitioned shuffle join;
    * the ranks are integer-deterministic either way, so the arm choice
    * never changes a single output bit (spec-pinned).
    */
  def pageRank(m: EdgeModel, iterations: Int,
               dampNum: Int = 85, checkpointEvery: Int = 8,
               broadcastMaxNodes: Long = 4000000L): DataFrame = {
    require(iterations >= 1, s"pageRank needs iterations >= 1, got $iterations")
    require(dampNum >= 0 && dampNum <= 100,
      s"pageRank damping numerator must be in [0,100], got $dampNum")
    require(checkpointEvery >= 1,
      s"pageRank needs checkpointEvery >= 1, got $checkpointEvery")
    val e = m.edges
    val n = m.n
    val base = (Scale * (100 - dampNum) / 100) / n
    val outdeg = m.outdeg
    // DATA-ADAPTIVE driver arm (r19, guide §1.2 step 1; the same
    // adaptive discipline as the broadcast/shuffle arm choice below and
    // Dedup.connectedComponents' small-edge arm): every iteration of
    // the distributed loop is a join + groupBy + join — at bench scale
    // that is per-iteration job scheduling, not compute (the c8/c32
    // ratio of this gate is ~1.0). The update rule is INTEGER-scaled
    // and order-free, so when the graph fits on the driver (node count
    // and summed out-degree both <= the `graft.pagerank.driverMaxEdges`
    // session conf, default 4M — 64 MB of edge longs, the same order as
    // the broadcast arm's build side), the same recurrence over local
    // arrays is bit-identical by construction. The edge sum is a
    // distributed aggregate, so a graph over the cap never collects its
    // node-sized outdeg table. Larger graphs take the loop exactly as
    // before.
    val driverMaxEdges =
      e.sparkSession.conf.get("graft.pagerank.driverMaxEdges", "4000000").toLong
    if (n <= driverMaxEdges) {
      val mEdges = Option(outdeg.agg(sum(col("outdeg"))).head().get(0))
        .fold(0L)(_.asInstanceOf[Long])
      if (mEdges <= driverMaxEdges) {
        val od = outdeg.select(col("src"), col("outdeg")).collect()
        // a NULL src is a node of its own in the loop (it counts in n and
        // ranks `base`: no edge joins into or out of a null key), so it
        // is kept out of the arrays and emitted as that row at the end
        val nullNode = od.exists(_.isNullAt(0))
        val nn = od.length - (if (nullNode) 1 else 0)
        val ids = new Array[Long](nn)
        val deg = new Array[Long](nn)
        val idx = new java.util.HashMap[Long, Int](nn * 2)
        var k = 0
        od.filterNot(_.isNullAt(0)).foreach { r =>
          ids(k) = r.getLong(0); deg(k) = r.getLong(1)
          idx.put(ids(k), k); k += 1
        }
        val sp0 = e.sparkSession
        import sp0.implicits._
        // tuple encoder, not Row collect: the deserializer is codegen'd;
        // boxed ends, so a null id survives the collect
        val es = e.select(col("src"), col("dst"))
          .as[(java.lang.Long, java.lang.Long)].collect()
        val srcI = new Array[Int](es.length)
        val dstI = new Array[Int](es.length)
        k = 0
        while (k < es.length) {
          // an end that is null or outside the outdeg key set (a
          // caller-built model) contributes to no ranked node — the
          // loop's joins drop such an edge the same way
          val (s, d) = es(k)
          srcI(k) = if (s == null) -1 else idx.getOrDefault(s, -1)
          dstI(k) = if (d == null) -1 else idx.getOrDefault(d, -1)
          k += 1
        }
        var rank = Array.fill(nn)(Scale / n)
        for (_ <- 1 to iterations) {
          val contrib = new Array[Long](nn)
          k = 0
          while (k < nn) { contrib(k) = rank(k) / deg(k); k += 1 }
          val mass = new Array[Long](nn)
          k = 0
          while (k < es.length) {
            if (srcI(k) >= 0 && dstI(k) >= 0) mass(dstI(k)) += contrib(srcI(k))
            k += 1
          }
          val next = new Array[Long](nn)
          k = 0
          while (k < nn) { next(k) = base + mass(k) * dampNum / 100; k += 1 }
          rank = next
        }
        val ranked = sp0.createDataset(ids.indices.map(k => (ids(k), rank(k))))
          .toDF("id", "rank_scaled")
        return if (!nullNode) ranked
          else ranked.union(Seq((Option.empty[Long], base)).toDF("id", "rank_scaled"))
      }
    }
    // The rank state CARRIES outdeg (static per node, node set ==
    // outdeg key set by materialize): the per-iteration contribution is
    // then a map-side projection instead of a rank⋈outdeg join — one
    // whole join (and its exchange) removed from every iteration
    // (r18; guide §2.4). Integer update rule unchanged bit-for-bit.
    var ranks = outdeg.select(col("src").as("id"), col("outdeg"),
      lit(Scale / n).as("rank"))
    for (i <- 1 to iterations) {
      val rankContrib = ranks
        .select(col("id").as("cs"), expr("rank div outdeg").as("contrib"))
      val perSrc =
        if (n <= broadcastMaxNodes) broadcast(rankContrib) else rankContrib
      // broadcast arm: edges stream through a BHJ untouched. Shuffle
      // arm (pinned layout, materialize): ranks inherit outdeg's
      // src-hash partitioning, so NEITHER side of this join moves.
      val contribs = e.join(perSrc, col("src") === col("cs"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("m"))
      // contribs leaves the agg hash-partitioned on dst; under the
      // pinned layout outdeg sits on src at the same partition count —
      // co-partitioned equi-join, no exchange, outdeg side pre-sorted:
      // per iteration exactly ONE exchange (the groupBy(dst)).
      ranks = outdeg
        .join(contribs, col("src") === col("dst"), "left")
        .select(col("src").as("id"), col("outdeg"),
          (lit(base) + expr(s"coalesce(m, 0L) * $dampNum div 100"))
            .as("rank"))
      if (i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("id"), col("rank").as("rank_scaled"))
  }
}
