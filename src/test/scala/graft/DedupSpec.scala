package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.load(spark, TestSpark.sfDir, "documents")

  test("exactDedup groups planted exact duplicates") {
    val d = docs.select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val out = Dedup.exactDedup(d.union(planted), "doc_id", "text")
    val dupGroups = out.filter(col("n_copies") >= 2)
    val expected = d.filter(col("doc_id") % 10 === 0).count()
    assert(dupGroups.count() === expected)
    // survivors are the original (smaller) ids
    assert(dupGroups.filter(col("keeper") >= 1000000).count() === 0)
  }

  test("dedupLines keeps a duplicated line only at its first occurrence") {
    val df = Seq(
      (1L, "a b\nbanner line\nc d"),
      (2L, "banner line\ne f"),
      (3L, "a b\nbanner line\nc d") // whole-doc duplicate of 1
    ).toDF("id", "text")
    val out = Dedup.dedupLines(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // doc1 keeps all 3 lines; doc2 loses the banner; doc3 loses everything
    assert(out.map(x => (x._1, x._2)).toSeq == Seq((1L, 3L), (2L, 1L), (3L, 0L)))
    val fpOf = (s: String) => spark.range(1)
      .select(graft.functions.fingerprint64(lit(s))).head().getLong(0)
    assert(out(0)._3 == fpOf("a b\nbanner line\nc d"))
    assert(out(1)._3 == fpOf("e f"))
    assert(out(2)._3 == fpOf(""))
  }

  test("minhash candidates include all identical-text pairs") {
    val d = docs.select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val cands = Dedup.minhashCandidates(d.union(planted), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedPairs = d.filter(col("doc_id") % 10 === 0)
      .select("doc_id").as[Long].collect()
      .map(i => (i, i + 1000000)).toSet
    // identical texts have identical signatures -> every band matches
    assert(expectedPairs.subsetOf(cands))
  }

  test("minhash candidate generation retains no cache blocks") {
    // the bucket-groupBy formulation needs no persist at all — a full
    // candidate+verify run must leave the session's cache untouched
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val d = docs.select(col("doc_id"), col("text"))
    Dedup.minhashDedup(d, "doc_id", "text", threshold = 0.8).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert((after -- before).isEmpty,
      s"leaked cached RDDs: ${(after -- before).mkString(",")}")
  }

  test("minhashDedup verifies candidates with true jaccard") {
    val d = docs.select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val out = Dedup.minhashDedup(d.union(planted), "doc_id", "text", threshold = 0.99)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // planted pairs all at jaccard 1.0
    val plantedPairs = pairs.filter { case (a, b, _) => b == a + 1000000 }
    assert(plantedPairs.length === d.filter(col("doc_id") % 10 === 0).count())
    assert(plantedPairs.forall(_._3 === 1.0))
  }

  test("minhashHardNegatives is exactly the verification join's reject side") {
    val d = docs.select(col("doc_id"), col("text"))
    val dup = Dedup.minhashDedup(d, "doc_id", "text", threshold = 0.8, bands = 8)
    val neg = Dedup.minhashHardNegatives(d, "doc_id", "text", threshold = 0.8, bands = 8)
    // disjoint, and every negative is genuinely below the cut
    val negs = neg.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(negs.forall(_._3 < 0.8))
    val dups = dup.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(negs.forall { case (a, b, _) => !dups.contains((a, b)) })
  }

  test("exactDedupByPriority: best (priority, id) wins, not min id") {
    import spark.implicits._
    val d = Seq(
      (1L, "same text here", "b_web"),
      (2L, "same text here", "c_crawl"),
      (9L, "same text here", "a_curated"),   // highest id, best source -> keeper
      (5L, "another doc", "c_crawl"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.exactDedupByPriority(d, "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set((9L, "a_curated", 3L), (5L, "c_crawl", 1L)))
  }

  test("containmentPairs is asymmetric: excerpt fully inside its source, not vice versa") {
    val d = docs.select(col("doc_id"), col("text"))
    // excerpt = first half of each 10th doc's words: token set a subset
    // of the source's -> containment(excerpt -> source) = 1.0, while the
    // source keeps tokens the excerpt lacks -> reverse well below 1
    val excerpts = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        array_join(slice(split(col("text"), "\\s+"), lit(1),
          (size(split(col("text"), "\\s+")) / 2).cast("int")), " ").as("text"))
    val out = Dedup.containmentPairs(d.union(excerpts), "doc_id", "text",
        threshold = 0.0, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val found = out.keys.filter { case (s, t) => s == t + 2000000 }
    assert(found.nonEmpty, "no excerpt pair survived banding")
    found.foreach { k =>
      assert(out(k) == 1.0, s"excerpt $k not fully contained: ${out(k)}")
      // repeated words mean half the WORDS can still cover most DISTINCT
      // tokens — the reverse just has to be strictly partial
      assert(out((k._2, k._1)) < 1.0, s"reverse containment not asymmetric")
    }
  }

  test("simhash: identical docs at hamming 0; near-dups within small distance") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (4L, "completely different content about spark query engines and columnar io"))
      .toDF("doc_id", "text")
    // maxDist=16 needs > 16 bands for candidate completeness (pigeonhole):
    // 32 bands x 2 bits also exercises a non-default banding width
    val out = Dedup.simhashDedup(d, "doc_id", "text", maxDist = 16,
        bands = 32, bitsPerBand = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out((1L, 2L)) === 0)
    assert(out.get((1L, 3L)).exists(_ <= 16))
    assert(!out.contains((1L, 4L)))
  }

  test("jaccard column math matches set arithmetic") {
    val out = Seq(("a b c d", "a b c e"))
      .toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
      .head().getDouble(0)
    assert(math.abs(out - 3.0 / 5.0) < 1e-12)
  }

  test("cleanCorpus drops planted duplicates and annotates survivors") {
    val d = docs.select(col("doc_id"), col("text"))
    val exactDups = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val corpus = d.union(exactDups)
    val cleaned = graft.ops.Pipeline.cleanCorpus(corpus, "doc_id", "text",
      nearDupThreshold = 0.999, minQuality = 0.0)
    // every planted exact duplicate is gone; originals survive modulo the
    // few natural near-dups of the word-soup corpus
    assert(cleaned.filter(col("doc_id") >= 1000000).count() === 0)
    val n = cleaned.count()
    assert(n <= d.count() && n >= (d.count() * 0.9).toLong)
    assert(cleaned.columns.contains("quality") && cleaned.columns.contains("lang_pred"))
  }

  test("embeddingNearDup finds planted scaled copies only") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .limit(200)
    val planted = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"),
        transform(col("v"), x => x * lit(0.99)).as("v"))
    val out = Dedup.embeddingNearDup(e.union(planted), "vec_id", "v",
      Seq("label"), threshold = 0.999)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => b == a + 100000 })
  }

  test("embeddingNearDupLsh finds planted scaled copies without blocking keys") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(200)
    val planted = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), x => x * lit(0.99)).as("v"))
    val out = Dedup.embeddingNearDupLsh(e.union(planted), "vec_id", "v",
      threshold = 0.999)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // a 0.99-scaled copy keeps every hyperplane sign, so each planted
    // pair shares ALL bands and must surface as a candidate; cosine of a
    // scaled copy is 1.0 exactly
    val plantedPairs = pairs.filter { case (a, b, _) => b == a + 100000 }
    assert(plantedPairs.length === e.filter(col("vec_id") % 5 === 0).count())
    assert(plantedPairs.forall(_._3 >= 0.999999))
    // only genuine near-dups at this threshold
    assert(pairs.forall(_._3 >= 0.999))
  }

  test("semanticDedupPairs finds planted copies inside their k-means cluster") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(200)
    val planted = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), x => x * lit(0.99)).as("v"))
    val idx = graft.ops.Ann.buildIvf(e.union(planted), "vec_id", "v",
      nlist = 4, maxIter = 2)
    val pairs = Dedup.semanticDedupPairs(idx.clustered, "vec_id", "v",
      threshold = 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // a 0.99-scaled copy sits at euclid distance 0.01*|v| from its
    // source — argmin assignment puts both in the same cluster, so
    // cluster blocking loses NO planted pair here; cosine is exactly 1
    assert(pairs.count { case (a, b, _) => b == a + 100000 } ===
      e.filter(col("vec_id") % 5 === 0).count())
    assert(pairs.forall(_._3 >= 0.999))
    // and every pair really was cluster-local: re-join the assignment
    val asg = idx.clustered.select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pairs.forall { case (a, b, _) => asg(a) == asg(b) })
  }

  test("semanticDedup keeps the low-centroid-similarity member of each pair") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(200)
    val planted = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), x => x * lit(0.99)).as("v"))
    val all = e.union(planted)
    val idx = graft.ops.Ann.buildIvf(all, "vec_id", "v", nlist = 4, maxIter = 2)
    val kept = Dedup.semanticDedup(idx.clustered, idx.centroids, "vec_id", "v",
      threshold = 0.999)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.semanticDedupPairs(idx.clustered, "vec_id", "v",
      threshold = 0.999).collect().map(r => (r.getLong(1), r.getLong(2)))
    // exactly one member of every qualifying pair survives
    pairs.foreach { case (a, b) =>
      assert(keptIds.contains(a) ^ keptIds.contains(b), s"pair ($a,$b)")
    }
    // non-duplicated rows all survive
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(all.count() - keptIds.size === (inPairs -- keptIds).size)
    // the survivor policy really is keep-LOWER-csim (paper's
    // keep-outliers): verify against the independently computed csim
    val tagged = idx.clustered.join(
        org.apache.spark.sql.functions.broadcast(idx.centroids), Seq("cluster"))
      .select(col("vec_id"),
        round(graft.functions.v_cosine(col("v"), col("centroid")), 6).as("csim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pairs.foreach { case (a, b) =>
      val keptId = if (keptIds.contains(a)) a else b
      val dropId = if (keptIds.contains(a)) b else a
      assert(tagged(keptId) < tagged(dropId) ||
        (tagged(keptId) == tagged(dropId) && keptId < dropId),
        s"pair ($a,$b): kept $keptId csim=${tagged(keptId)} vs ${tagged(dropId)}")
    }
  }

  test("dropNearDuplicateClusters keeps one representative per transitive chain") {
    // a~b and b~c are verified pairs; a~c need not be — cluster-based
    // survivor selection must still keep ONLY a of the chain
    val base = "the quick brown fox jumps over the lazy dog near the river " +
      "bank every single morning before breakfast time arrives quietly " +
      "and then wanders back home across the wide green field"
    val d = Seq(
      (1L, base + " one"), (2L, base + " two"), (3L, base + " three"),
      (9L, "a completely unrelated document about columnar engines"))
      .toDF("doc_id", "text")
    val kept = graft.ops.Pipeline
      .dropNearDuplicateClusters(d, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 9L))
  }

  test("embeddingNearDupLsh on an empty corpus returns an empty pair set") {
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    val out = Dedup.embeddingNearDupLsh(empty, "vec_id", "v", threshold = 0.9)
    assert(out.columns.toSeq === Seq("a_id", "b_id", "cosine"))
    assert(out.count() === 0)
  }

  test("connectedComponents merges chained duplicate pairs to the min id") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // chain 1-2-3, pair 4-5, singleton 9
    val edges = Seq((2L, 3L), (1L, 2L), (4L, 5L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("connectedComponents self-loop hop keeps pointer-jumping round counts on a long path") {
    // r18: the neighbor-min hop is now folded into ONE groupBy over the
    // self-looped edge list (no hop left-join). This pins (a) the labels
    // on a diameter-15 path and (b) that pointer jumping still halves
    // the distance per round: 16 nodes need <= log2(15)+2 = 6 rounds
    // (one extra round to detect the fixpoint).
    import spark.implicits._
    val n = 16L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponents(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == (1L to n).map(_ -> 1L).toMap, s"path collapsed wrong: $comp")
    assert(Dedup.lastCcRounds <= 6,
      s"pointer jumping degraded: ${Dedup.lastCcRounds} rounds for a 16-path")
  }

  test("connectedComponents with an empty edge list: every node is its own component") {
    import spark.implicits._
    val nodes = Seq(7L, 8L, 9L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val comp = Dedup.connectedComponents(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(7L -> 7L, 8L -> 8L, 9L -> 9L))
  }

  test("connectedComponents raises on maxIter exhaustion instead of returning partial labels") {
    import spark.implicits._
    // a 40-node path needs ~log2(40) pointer-jump rounds; 1 round cannot finish
    val n = 40
    val nodes = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "id", edges, "a", "b", maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did NOT converge"))
    // and the warn-only mode returns (partial) labels without throwing
    val partial = Dedup.connectedComponents(nodes, "id", edges, "a", "b",
      maxIter = 1, failOnNonConvergence = false).collect()
    assert(partial.length == n)
  }

  test("connectedComponents driver arm equals the distributed loop on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    val n = 80L
    val nodes = (1L to n).toDF("id")
    // random sparse graph: chains, triangles, isolated nodes
    val es = Seq.fill(60)((1L + rnd.nextInt(n.toInt), 1L + rnd.nextInt(n.toInt)))
      .filter { case (a, b) => a != b }
    val edges = es.toDF("a", "b")
    def run(): Map[Long, Long] =
      Dedup.connectedComponents(nodes, "id", edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = run() // default conf: small edge set takes the driver arm
    val driverRounds = Dedup.lastCcRounds
    spark.conf.set("graft.cc.driverMaxEdges", "0") // force the loop
    val (viaLoop, loopRounds) =
      try (run(), Dedup.lastCcRounds)
      finally spark.conf.unset("graft.cc.driverMaxEdges")
    assert(viaDriver === viaLoop)
    assert(driverRounds === loopRounds,
      s"round recurrence diverged: driver $driverRounds vs loop $loopRounds")
  }

  test("connectedComponents driver arm equals the distributed loop on edges with a null id") {
    import spark.implicits._
    val nodes = Seq[java.lang.Long](1L, 2L, 3L, 4L, 5L, 6L, null).toDF("id")
    // the loop's joins drop an edge with a null end; so must the driver arm
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (null, 4L), (5L, null), (6L, 4L), (null, null)).toDF("a", "b")
    def run(): Set[(Option[Long], Option[Long])] =
      Dedup.connectedComponents(nodes, "id", edges, "a", "b").collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet
    val viaDriver = run()
    spark.conf.set("graft.cc.driverMaxEdges", "0") // force the loop
    val viaLoop = try run() finally spark.conf.unset("graft.cc.driverMaxEdges")
    assert(viaDriver === viaLoop)
    assert(viaDriver.collect { case (Some(i), Some(c)) => i -> c }.toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 4L))
  }

  test("connectedComponents with reliable checkpointing matches the local-checkpoint result") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val edges = Seq((2L, 3L), (1L, 2L), (4L, 5L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(nodes, "id", edges, "a", "b",
        reliableCheckpointEvery = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("dedupClusters labels every planted near-dup with its source doc") {
    val out = SparkEntry.queries("dedup_clusters")(spark, TestSpark.sfDir)
    val comp = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // planted copies (doc_id % 7 == 0, id + 1000000) must share their
    // source's component
    comp.keys.filter(_ >= 1000000L).foreach { c =>
      assert(comp(c) == comp(c - 1000000L), s"copy $c not clustered with source")
    }
    // representatives are minimal: every component label maps to itself
    comp.values.foreach(rep => assert(comp(rep) == rep))
  }

  test("dedupClustersMinhash clusters planted near-dup cliques without blocking keys") {
    // three cliques of mutual near-dups (shared long base text, one word
    // varied) + two unrelated singletons; no blocking key exists that
    // would feed the quadratic path — this is the LSH-candidate route
    val base = "the quick brown fox jumps over the lazy dog near the river " +
      "bank every single morning before breakfast time arrives quietly"
    val d = Seq(
      (1L, base + " alpha"), (2L, base + " beta"), (3L, base + " gamma"),
      (10L, base.replace("fox", "cat") + " one two three four five six seven eight"),
      (11L, base.replace("fox", "cat") + " one two three four five six seven nine"),
      (20L, "completely unrelated content about columnar query engines"),
      (21L, "another lonely document concerning shuffle partitioning strategy"))
      .toDF("doc_id", "text")
    val comp = Dedup.dedupClustersMinhash(d, "doc_id", "text", threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 21L)
  }

  test("dedupClustersMinhash gate labels planted copies with their source") {
    val out = SparkEntry.queries("dedup_clusters_minhash")(spark, TestSpark.sfDir)
    val comp = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    comp.keys.filter(_ >= 1000000L).foreach { c =>
      assert(comp(c) == comp(c - 1000000L), s"copy $c not clustered with source")
    }
    comp.values.foreach(rep => assert(comp(rep) == rep))
  }

  test("duplicatedSpans finds shared regions and merges touching ranges") {
    // docs 1 and 2 share an 8-token middle run; doc 3 is unrelated
    val d = Seq(
      (1L, "aa bb cc one two three four five six seven eight xx yy"),
      (2L, "pp qq one two three four five six seven eight rr ss tt"),
      (3L, "totally different words with no overlap at all here now"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, "doc_id", "text", w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: tokens 3..10 duplicated -> one merged span [3, 11)
    assert(spans.contains((1L, 3L, 11L, 8L)), spans.toSeq)
    // doc 2: tokens 2..9 duplicated -> one merged span [2, 10)
    assert(spans.contains((2L, 2L, 10L, 8L)), spans.toSeq)
    assert(!spans.exists(_._1 == 3L), "unrelated doc got a span")
    assert(spans.length == 2, "runs of duplicated shingles must merge to ONE span")
  }

  test("duplicatedSpans keeps spans separated by a gap distinct") {
    val d = Seq(
      (1L, "one two three GAP1 GAP2 GAP3 four five six"),
      (2L, "one two three MID1 MID2 MID3 four five six"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, "doc_id", "text", w = 3)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.toSet == Set((0L, 3L), (6L, 9L)), spans.toSeq)
  }

  test("spanStats reports the duplicated fraction") {
    val d = Seq(
      (1L, "one two three four xx yy zz ww"),
      (2L, "one two three four aa bb cc dd"))
      .toDF("doc_id", "text")
    val st = Dedup.spanStats(d, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // shared 4-token prefix -> one span of 4 tokens over 8
    assert(st(1L) == ((1L, 4L, 8L, 0.5)), st)
    assert(st(2L) == ((1L, 4L, 8L, 0.5)), st)
  }

  test("stripDuplicatedSpans keeps one copy of each duplicated region") {
    val d = Seq(
      (1L, "aa bb one two three four cc dd"),   // owner of the shared run
      (2L, "pp qq one two three four rr ss"),   // foreign copy -> stripped
      (3L, "totally unrelated words here now")) // untouched
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedSpans(d, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 keeps all 8 tokens; doc 2 loses the 4 shared ones; doc 3 intact
    assert(out == Map(1L -> 8L, 2L -> 4L, 3L -> 5L), out)
    // fingerprint of doc 2's survivors equals the hash of the rejoined text
    val fp = Dedup.stripDuplicatedSpans(d, "doc_id", "text", w = 3)
      .filter(col("doc_id") === 2L).head().getLong(2)
    val expect = spark.range(1)
      .select(graft.functions.fingerprint64(lit("pp qq rr ss"))).head().getLong(0)
    assert(fp == expect)
  }

  test("stripDuplicatedSpans drops whole-document copies entirely") {
    val d = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),  // exact copy, higher id
      (3L, "something else entirely okay here"))
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedSpans(d, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 6L, 3L -> 5L), out)
  }

  test("minhashBandIndex maintains incrementally: append == rebuild; probes agree") {
    val d = docs.select(col("doc_id"), col("text")).limit(200).localCheckpoint()
    val base = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 =!= 0)
    def rows(ix: org.apache.spark.sql.DataFrame) = ix
      .select(col("id"), col("band"), col("bandkey"),
        array_join(transform(col("toks"), _.cast("string")), ",").as("t"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .toSet
    // signature rows are per-doc map-side state: a new batch's rows APPEND
    // (partition-wise at the stored layout) — no rebuild, no read of the
    // existing index
    val incremental = Dedup.minhashBandIndex(base, "doc_id", "text")
      .union(Dedup.minhashBandIndex(batch, "doc_id", "text"))
    val rebuilt = Dedup.minhashBandIndex(d, "doc_id", "text")
    assert(rows(incremental) === rows(rebuilt))
    // and a probe against the incremental index returns the same pairs
    val probe = d.limit(5).select((col("doc_id") + 900000L).as("doc_id"),
      col("text"))
    def pairs(ix: org.apache.spark.sql.DataFrame) =
      Dedup.nearDupsAgainstIndex(probe, "doc_id", "text", ix, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(incremental) === pairs(rebuilt))
    assert(pairs(rebuilt).nonEmpty) // the copies find their sources
  }

  test("contaminatedSpans localizes benchmark overlap; strip removes only it") {
    val corpus = Seq(
      (1L, "intro words the quick brown fox closing remark"), // mid overlap
      (2L, "the quick brown fox"),                            // fully contaminated
      (3L, "nothing in common at all here"))                  // clean
      .toDF("doc_id", "text")
    val bench = Seq("eval asks about the quick brown fox today")
      .toDF("text")
    val spans = Dedup.contaminatedSpans(corpus, "doc_id", "text", bench, "text", w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: shingle hits at token pos 2,3 -> span [2, 6); doc 2: [0, 4)
    assert(spans === Set((1L, 2L, 6L), (2L, 0L, 4L)), spans)
    val kept = Dedup.stripContaminatedSpans(corpus, "doc_id", "text", bench, "text", w = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 keeps the 4 tokens outside the span; doc 2 drops out whole;
    // doc 3 passes through untouched
    assert(kept === Map(1L -> 4L, 3L -> 6L), kept)
  }

  test("fuzzyPairs matches single-edit variants and respects maxDist") {
    val d = Seq(
      (1L, "the colorful parrot flew away", "en", "s"),
      (2L, "the colourful parrot flew away", "en", "s"),  // 1 insertion
      (3L, "the colorful parrot flew home", "en", "s"),   // 4 edits at tail
      (4L, "the colorful parrot flew away", "de", "s"))   // other block
      .toDF("doc_id", "text", "lang", "source")
    val pairs = Dedup.fuzzyPairs(d, "doc_id", "text", Seq("lang", "source"),
      prefixLen = 8, capLen = 60, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L)), pairs)
  }

  test("fuzzyPairs gate: every planted typo variant pairs with its source at dist 1") {
    val out = SparkEntry.queries("dedup_fuzzy")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planted = out.filter(_._2 >= 2000000L)
    assert(planted.nonEmpty)
    planted.foreach { case (a, b, dist) =>
      if (b == a + 2000000L) assert(dist == 1L, s"variant of $a at dist $dist")
    }
  }

  test("embeddingContaminated flags corpus rows near-dupping any benchmark row") {
    import graft.ops.Dedup
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.5, 0.5, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0, 1.0))
    ).toDF("id", "v")
    // benchmark: a scaled copy of 1 (cosine 1.0) and an unrelated axis
    val bench = Seq(
      (100L, Seq(0.9, 0.0, 0.0, 0.0)),
      (101L, Seq(0.0, 0.0, 0.0, 1.0))
    ).toDF("id", "v")
    val out = Dedup.embeddingContaminated(corpus, "id", "v", bench, "id", "v",
      threshold = 0.999, nbits = 16, bands = 16) // 1-bit bands: recall 1.0
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out.contains(1L) && out(1L)._1 === 1.0)
    assert(!out.contains(2L) && !out.contains(3L))
    // 4 has cosine 1/sqrt(2) ~ 0.707 with 101 - below threshold
    assert(!out.contains(4L))
    // empty benchmark: nothing flags, schema intact
    val none = Dedup.embeddingContaminated(corpus, "id", "v",
      bench.limit(0), "id", "v", threshold = 0.9)
    assert(none.columns.toSeq === Seq("id", "max_cosine", "n_hits"))
    assert(none.count() === 0L)
  }

  test("minhashContaminated flags near-verbatim benchmark rewrites only") {
    import graft.ops.Dedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet pink brown black")
    ).toDF("doc_id", "text")
    val bench = Seq(
      // doc 1 with one appended token: high Jaccard, must flag
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa zzz"),
      // unrelated benchmark item: must not flag anyone
      (101L, "totally different benchmark content entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashContaminated(corpus, "doc_id", "text",
      bench, "doc_id", "text", threshold = 0.8)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L)._1 > 0.9 && out(1L)._2 === 1L)
  }
}
