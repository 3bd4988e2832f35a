package graft

import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** Kernel correctness: the codegen expressions evaluated through a real
  * DataFrame (whole-stage codegen path) against plain-Scala reference math.
  * Property-style coverage via seeded random vectors (scalacheck's
  * scalatest bridge isn't in the offline cache; seeded Random is
  * equivalent and reproducible).
  */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomPairs(seed: Long, n: Int): Seq[(List[Double], List[Double])] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val len = 1 + rnd.nextInt(16)
      (List.fill(len)(rnd.nextDouble() * 20 - 10),
        List.fill(len)(rnd.nextDouble() * 20 - 10))
    }
  }

  private def refDot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum
  private def refCos(a: Seq[Double], b: Seq[Double]): Option[Double] = {
    val d = math.sqrt(refDot(a, a)) * math.sqrt(refDot(b, b))
    if (d == 0.0) None else Some(refDot(a, b) / d)
  }
  private def refEuclid(a: Seq[Double], b: Seq[Double]): Double =
    math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)


  test("dot/cosine/euclid match reference math through codegen") {
    val pairs = randomPairs(7L, 50)
    val df = pairs.toDF("a", "b").select(
      col("a"), col("b"),
      v_dot(col("a"), col("b")).as("d"),
      v_cosine(col("a"), col("b")).as("c"),
      v_euclid(col("a"), col("b")).as("e"))
    df.collect().zip(pairs).foreach { case (r, (a, b)) =>
      assert(math.abs(r.getDouble(2) - refDot(a, b)) < 1e-9)
      refCos(a, b) match {
        case Some(c) => assert(math.abs(r.getDouble(3) - c) < 1e-9)
        case None    => assert(r.isNullAt(3))
      }
      assert(math.abs(r.getDouble(4) - refEuclid(a, b)) < 1e-9)
    }
  }

  test("float32 input arrays are accepted without cast") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(v_dot(col("a"), col("b"))).head().getDouble(0) === 11.0)
  }

  test("null inputs produce null") {
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(df.select(v_dot(col("a"), col("b"))).head().isNullAt(0))
    assert(df.select(v_cosine(col("a"), col("b"))).head().isNullAt(0))
  }

  test("zero-norm cosine is null") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(df.select(v_cosine(col("a"), col("b"))).head().isNullAt(0))
  }

  test("sparse dot equals dense dot on its dense expansion") {
    // sparse views: strictly-positive entries only
    def sp(v: Seq[Double]): (Seq[Int], Seq[Double]) = {
      val pairs = v.zipWithIndex.filter(_._1 > 0)
      (pairs.map(_._2), pairs.map(_._1))
    }
    val rows = randomPairs(11L, 50).map { case (a, b) =>
      val (ia, va) = sp(a); val (ib, vb) = sp(b)
      val expected = refDot(
        a.map(x => if (x > 0) x else 0.0), b.map(x => if (x > 0) x else 0.0))
      (ia, va, ib, vb, expected)
    }
    val df = rows.toDF("ia", "va", "ib", "vb", "expected").select(
      v_sparse_dot(col("ia"), col("va"), col("ib"), col("vb")).as("got"),
      col("expected"))
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
    }
  }

  test("maxsim equals brute-force late interaction") {
    val doc = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.5, 0.5))
    val qry = Seq(Seq(2.0, 0.0), Seq(1.0, 1.0))
    // per query vec: max dot over doc vecs; summed
    val expected =
      qry.map(q => doc.map(d => refDot(d, q)).max).sum
    val df = Seq((doc, qry)).toDF("d", "q")
    val got = df.select(v_maxsim(col("d"), col("q"))).head().getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
    // empty doc -> 0.0
    val df2 = Seq((Seq.empty[Seq[Double]], qry)).toDF("d", "q")
    assert(df2.select(v_maxsim(col("d"), col("q"))).head().getDouble(0) === 0.0)
  }

  test("simhash: identical token multisets hash identically; bit flip bounded") {
    val df = Seq(
      ("a", Seq(1L, 2L, 3L)),
      ("b", Seq(1L, 2L, 3L)),
      ("c", Seq(1L, 2L, 3L, 4L))).toDF("id", "h")
      .select(col("id"), simhash64(col("h")).as("s"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") === m("b"))
    val hd = java.lang.Long.bitCount(m("a") ^ m("c"))
    assert(hd <= 64)
  }

  test("lsh_signature bit-equals the nbits-separate-v_dot composition") {
    // the fused one-pass kernel must reproduce the composition's buckets
    // EXACTLY (same per-plane accumulation order) — the DuckDB LSH
    // mirrors are written against that arithmetic
    val corpus = graft.collections.Collections
      .homogeneous(spark, TestSpark.sfDir)
      .select(col("id"), col("vector").cast("array<double>").as("v"))
      .limit(200)
    for (nbits <- Seq(16, 64)) {
      val planes = graft.ops.Ann.lshPlanes(64, nbits, 42L)
      val composed = planes.zipWithIndex.map { case (p, i) =>
        when(v_dot(col("v"), vec(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
      val both = corpus.select(col("id"),
        lsh_signature(col("v"), 64, nbits).as("fused"),
        composed.as("composed")).collect()
      assert(both.nonEmpty)
      both.foreach(r => assert(r.getLong(1) === r.getLong(2),
        s"nbits=$nbits id=${r.getString(0)}"))
    }
    // float input accumulates like v_dot's float accessor (cast-to-double
    // per element), not like a pre-cast column
    val f = graft.collections.Collections.homogeneous(spark, TestSpark.sfDir)
      .select(col("id"), col("vector")).limit(50)
    val planes16 = graft.ops.Ann.lshPlanes(64, 16, 42L)
    val composedF = planes16.zipWithIndex.map { case (p, i) =>
      when(v_dot(col("vector"), vec(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    f.select(lsh_signature(col("vector"), 64, 16).as("fused"),
        composedF.as("composed")).collect()
      .foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("fingerprint64 is deterministic and collision-free on distinct strings") {
    val df = Seq("x", "y", "x").toDF("t").select(fingerprint64(col("t")).as("f"))
    val fs = df.collect().map(_.getLong(0))
    assert(fs(0) === fs(2))
    assert(fs(0) !== fs(1))
  }

  test("v_avg aggregates element-wise, skipping null rows") {
    val df = Seq(
      ("a", Some(Seq(1.0, 2.0))),
      ("a", Some(Seq(3.0, 4.0))),
      ("a", None),
      ("b", Some(Seq(10.0, 20.0)))).toDF("k", "v")
    val m = df.groupBy(col("k")).agg(v_avg(col("v")).as("c"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(m("a") === Seq(2.0, 3.0))
    assert(m("b") === Seq(10.0, 20.0))
    // all-null group -> null
    val empty = Seq(("x", Option.empty[Seq[Double]])).toDF("k", "v")
      .groupBy(col("k")).agg(v_avg(col("v")).as("c")).head()
    assert(empty.isNullAt(1))
    // float input works too
    val f = Seq(Seq(1.0f, 3.0f), Seq(3.0f, 5.0f)).toDF("v")
      .agg(v_avg(col("v"))).head().getSeq[Double](0)
    assert(f === Seq(2.0, 4.0))
  }

  test("manhattan distance matches reference math through codegen") {
    val pairs = randomPairs(13L, 50)
    val df = pairs.toDF("a", "b").select(v_manhattan(col("a"), col("b")))
    df.collect().zip(pairs).foreach { case (r, (a, b)) =>
      val ref = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
      assert(math.abs(r.getDouble(0) - ref) < 1e-9)
    }
    // metric dispatch: v_distance + Search.similarity (negated) agree
    val d = Seq((Seq(1.0, 2.0), Seq(4.0, 0.0))).toDF("a", "b")
    assert(d.select(v_distance(col("a"), col("b"), "manhattan")).head().getDouble(0) === 5.0)
    assert(d.select(v_distance(col("a"), col("b"), "l1")).head().getDouble(0) === 5.0)
  }

  test("exp/lin decay kernels: midpoint-0.5 convention and bounds") {
    val df = Seq(0.0, 1.5, 3.0, 6.0, 9.0, -3.0).toDF("d")
      .select(col("d"),
        v_exp_decay(col("d"), lit(3.0)).as("e"),
        v_lin_decay(col("d"), lit(3.0)).as("l"))
    val m = df.collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(0.0) === ((1.0, 1.0)))                      // decay(0) = 1
    assert(math.abs(m(3.0)._1 - 0.5) < 1e-12)            // decay(scale) = 0.5
    assert(math.abs(m(3.0)._2 - 0.5) < 1e-12)
    assert(m(6.0)._2 === 0.0)                            // lin hits 0 at 2*scale
    assert(m(9.0)._2 === 0.0)                            // and stays clamped
    assert(m(6.0)._1 > 0.0)                              // exp never reaches 0
    assert(m(-3.0) === m(3.0))                           // |x| symmetry
  }

  test("SQL registration: corpus call shapes work via spark.sql") {
    graft.functions.registerAll(spark)
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .createOrReplaceTempView("vt")
    val r = spark.sql(
      "SELECT v_dot(a, b) d, v_cosine(a, b) c, v_euclid(a, b) e FROM vt").head()
    assert(r.getDouble(0) === 11.0)
    val r2 = spark.sql(
      """SELECT v_distance(a, b, 'cosine') dc, v_distance(a, b, 'euclid') de,
        |       v_within(a, b, 5.0) w, v_within(a, b, 0.1, 'cosine') wc
        |FROM vt""".stripMargin).head()
    assert(r2.getDouble(0) >= 0.0 && r2.getDouble(0) <= 2.0)
    assert(math.abs(r2.getDouble(1) - math.sqrt(8.0)) < 1e-9)
    assert(r2.getBoolean(2) === true)   // sqrt(8) < 5
    assert(r2.getBoolean(3) === true)   // cosine distance of parallel-ish vecs
    val r4 = spark.sql(
      """SELECT v_manhattan(a, b) m, v_distance(a, b, 'manhattan') dm,
        |       v_exp_decay(v_euclid(a, b), 10.0) ed,
        |       v_lin_decay(v_euclid(a, b), 10.0) ld FROM vt""".stripMargin).head()
    assert(r4.getDouble(0) === 4.0 && r4.getDouble(1) === 4.0)
    assert(r4.getDouble(2) > 0.5 && r4.getDouble(2) < 1.0)  // sqrt(8) < scale
    assert(r4.getDouble(3) > 0.5 && r4.getDouble(3) < 1.0)
    // JSON aliases
    Seq(("""{"k": 7, "s": "x"}""")).toDF("j").createOrReplaceTempView("jt")
    val r3 = spark.sql(
      """SELECT json_get_int(j, 'k') ki, json_get_str(j, 's') ss,
        |       has_field(j, 'k') hk, has_field(j, 'missing') hm FROM jt""".stripMargin).head()
    assert(r3.getLong(0) === 7L)
    assert(r3.getString(1) === "x")
    assert(r3.getBoolean(2) && !r3.getBoolean(3))
  }

  test("min_should: at-least-n semantics; NULL conditions count as unsatisfied") {
    import graft.functions.min_should
    val df = Seq((1, Some("en"), 10), (2, Some("de"), 300),
      (3, None, 300), (4, Some("en"), 300)).toDF("id", "lang", "n")
    def sel(n: Int) = df.filter(min_should(n,
        col("lang") === "en", col("n") > 200))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(sel(1) === Set(1, 2, 3, 4))   // row 3: NULL lang cond -> 0, n cond -> 1
    assert(sel(2) === Set(4))
    intercept[IllegalArgumentException](min_should(1))
  }

  test("first_band_pairs: streams exactly the no-earlier-collision i<j pairs") {
    import org.apache.spark.sql.functions.{sort_array, struct, collect_list, size => fsize, slice}
    // seeded random buckets: ids unique per bucket, 4-band keys from a
    // tiny key space so earlier-band collisions actually occur
    val rnd = new scala.util.Random(99L)
    val bands = 4
    val rows = for {
      bucket <- 0 until 12
      width = 2 + rnd.nextInt(9)
      i <- 0 until width
    } yield {
      val keys = Array.fill(bands)(rnd.nextInt(3).toLong)
      // this row sits in band `bucket % bands` of its bucket
      (bucket.toLong, bucket % bands, bucket * 100L + i, keys.toSeq)
    }
    val df = rows.toDF("bandkey", "band", "id", "keys")
    val got = df
      .select(col("id"), slice(col("keys"), lit(1), col("band")).as("pref"),
        col("band"), col("bandkey"))
      .groupBy(col("band"), col("bandkey"))
      .agg(sort_array(collect_list(struct(col("id"), col("pref")))).as("xs"))
      .filter(fsize(col("xs")) > 1)
      .select(first_band_pairs(col("xs")).as(Seq("a_id", "b_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference: per bucket, all i<j pairs whose key prefixes (before
    // the bucket's band) share no position
    val ref = rows.groupBy(r => (r._2, r._1)).toSeq.flatMap { case ((band, _), rs) =>
      val sorted = rs.sortBy(_._3)
      for {
        i <- sorted.indices; j <- (i + 1) until sorted.length
        if (0 until band).forall(u => sorted(i)._4(u) != sorted(j)._4(u))
      } yield (sorted(i)._3, sorted(j)._3)
    }
    assert(got.sorted.toSeq === ref.sorted)
    assert(got.forall { case (a, b) => a < b })
  }

  test("v_maxsim skips NULL inner vectors through a codegen'd column") {
    // doc [1,2], NULL, [0,1] vs query [1,0], NULL, [0,1]: max(1, 0) +
    // max(2, 1) = 3 — the NULL query vector adds nothing, the NULL doc
    // vector is no candidate; an all-NULL doc scores like an empty one
    val doc = Seq(Some(Seq(1.0, 2.0)), None, Some(Seq(0.0, 1.0)))
    val qry = Seq(Some(Seq(1.0, 0.0)), None, Some(Seq(0.0, 1.0)))
    val df = Seq((doc, qry), (Seq(None), qry), (doc, Seq(None))).toDF("d", "q")
      .repartition(1).select(v_maxsim(col("d"), col("q")))
    assert(df.collect().map(_.getDouble(0)).toSeq === Seq(3.0, 0.0, 0.0))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("v_maxsim")), plan)
  }

  test("v_maxsim skips NULL inner vectors in a constant-folded literal call") {
    val df = spark.sql(
      """SELECT v_maxsim(array(array(1D, 2D), NULL, array(0D, 1D)),
        |                array(array(1D, 0D), NULL, array(0D, 1D))) AS s""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("v_maxsim"))
    assert(df.head().getDouble(0) === 3.0)
  }

  test("lsh_signature rejects nbits outside [1, 64]") {
    // bit 64 would wrap onto bit 0 and silently return a wrong bucket
    intercept[IllegalArgumentException](lsh_signature(col("v"), 8, 65))
    intercept[IllegalArgumentException](lsh_signature(col("v"), 8, 0))
    lsh_signature(col("v"), 8, 64)
  }

  test("lsh_signature rejects dim < 1") {
    intercept[IllegalArgumentException](lsh_signature(col("v"), 0, 16))
  }

  test("minhash_signature rejects numHashes < 1") {
    // an empty signature would make every document collide
    intercept[IllegalArgumentException](minhash_signature(col("h"), 0))
    minhash_signature(col("h"), 1)
  }
}
