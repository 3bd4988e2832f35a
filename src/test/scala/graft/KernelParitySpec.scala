package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.Random
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, Expression, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.sources.SearchSpec

/** Eval ≡ codegen ≡ store parity for every scalar kernel declared in
  * `functions/VectorExpressions.scala`.
  *
  * Each kernel runs three ways over the same inputs: interpreted `eval`,
  * a `GenerateMutableProjection`, and a codegen `UnsafeProjection.create`
  * (asserted not to have fallen back to the interpreted projection). Every
  * path runs on a generic row AND on its unsafe copy, so both
  * `GenericArrayData` and `UnsafeArrayData` inputs are read. All six
  * results must be bit-equal (doubles by `doubleToLongBits`, floats by
  * `floatToIntBits`) or all six must throw the same exception class.
  * Inputs: seeded random values, a NULL input, arrays with NULL elements,
  * empty arrays, NaN/±0.0/∞ elements, empty and whitespace-only strings,
  * non-ASCII text, and float, double and mixed element types. Pinned rows
  * also fix the value all six paths must return, for degenerate inputs
  * where agreement alone is not enough.
  *
  * The store-side scorers (`SearchSpec.score`/`scoreSparse`/`scoreMulti`,
  * the wire-serving copies over `Array[Float]`) are pinned against the
  * expressions on float documents and double queries.
  *
  * A source-level guard fails on any `case class` in VectorExpressions.scala
  * without a row here, so a new kernel cannot skip the check.
  */
class KernelParitySpec extends AnyFunSuite {

  /** One parity row: input column types, the kernel built over bound
    * references to them, and the input tuples (Scala values).
    */
  private case class Case(types: Seq[DataType],
                          build: Seq[Expression] => Expression,
                          inputs: Seq[Seq[Any]]) {
    def expr: Expression =
      build(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
    def kernel: String = expr.getClass.getSimpleName
  }

  private val rnd = new Random(42L)

  // ---- inputs --------------------------------------------------------------

  private def vecT(elt: DataType): DataType = ArrayType(elt, containsNull = true)
  private val F = vecT(FloatType)
  private val D = vecT(DoubleType)
  private val L = vecT(LongType)

  private def eltOf(t: DataType): DataType = t.asInstanceOf[ArrayType].elementType

  private def typed(elt: DataType, xs: Seq[Double]): Seq[Any] =
    if (elt == FloatType) xs.map(_.toFloat) else xs

  private def randVec(elt: DataType, n: Int): Seq[Any] =
    typed(elt, Seq.fill(n)(rnd.nextDouble() * 20 - 10))

  /** Degenerate vectors every dense kernel must agree on. */
  private def oddVecs(elt: DataType): Seq[Seq[Any]] = Seq(
    Seq.empty,
    typed(elt, Seq(0.0, 0.0, 0.0)),
    typed(elt, Seq(-0.0, 0.0, -0.0)),
    typed(elt, Seq(1.5, Double.NaN, -2.0)),
    typed(elt, Seq(Double.PositiveInfinity, 1.0, 2.0)),
    typed(elt, Seq(3.0, 4.0)),
    typed(elt, Seq(1.5, -2.0)).patch(1, Seq(null), 0))

  private def vecs(elt: DataType, count: Int, maxLen: Int): Seq[Seq[Any]] =
    Seq.fill(count)(randVec(elt, rnd.nextInt(maxLen + 1))) ++ oddVecs(elt) :+ null

  /** Pairs over two element types: random same-length pairs, random
    * mismatched lengths, and every degenerate vector against a random one
    * in both positions (NULL included).
    */
  private def vecPairs(lt: DataType, rt: DataType): Seq[Seq[Any]] = {
    val same = Seq.fill(12) {
      val n = rnd.nextInt(17); Seq(randVec(lt, n), randVec(rt, n))
    }
    val mixed = Seq.fill(4)(Seq(randVec(lt, rnd.nextInt(9)), randVec(rt, rnd.nextInt(9))))
    val odd = (oddVecs(lt) :+ null).map(v => Seq(v, randVec(rt, 3))) ++
      (oddVecs(rt) :+ null).map(v => Seq(randVec(lt, 3), v))
    same ++ mixed ++ odd :+ Seq(oddVecs(lt)(1), oddVecs(rt)(1))
  }

  private def randLongs(n: Int): Seq[Any] = Seq.fill(n)(rnd.nextLong())
  private val longArrays: Seq[Seq[Any]] =
    Seq.fill(10)(randLongs(rnd.nextInt(20))) ++
      Seq(Seq.empty, Seq(0L, -1L, Long.MinValue, Long.MaxValue), Seq(5L, null, 7L), null)

  private val words = Seq("the", "a", "and", "hello", "World", "café", "東京", "x1,", "naïve")
  private def randText(): String =
    Seq.fill(rnd.nextInt(14))(words(rnd.nextInt(words.length)))
      .map(_ + Seq(" ", "  ", "\t", "\n", " \r ")(rnd.nextInt(5))).mkString
  private val texts: Seq[Any] = Seq.fill(10)(randText()) ++ Seq(
    "", " ", "   \t\n ", "  leading and trailing  ", "Hello hello HELLO world",
    "café café CAFÉ naïve résumé", "東京 タワー 🎉 emoji 🎉", "x\u000By\fz", null)

  private def sortedDistinct[T: Ordering](xs: Seq[T]): Seq[T] = xs.distinct.sorted

  private def posStruct(posT: DataType, valT: DataType): DataType =
    vecT(StructType(Seq(StructField("pos", posT), StructField("v", valT))))

  private def posRows(n: Int, posLong: Boolean, value: => Any): Seq[Any] =
    rnd.shuffle((0 until n).toList).map(p => Row(if (posLong) p.toLong else p, value))

  // ---- rows ----------------------------------------------------------------

  private val denseTypes = Seq(FloatType -> FloatType, FloatType -> DoubleType,
    DoubleType -> FloatType, DoubleType -> DoubleType)

  private def densePairCases(build: (Expression, Expression) => Expression): Seq[Case] =
    denseTypes.map { case (lt, rt) =>
      Case(Seq(vecT(lt), vecT(rt)), es => build(es(0), es(1)), vecPairs(lt, rt))
    }

  private def unaryCases(types: Seq[DataType], inputs: DataType => Seq[Any])(
      build: Expression => Expression): Seq[Case] =
    types.map(t => Case(Seq(t), es => build(es(0)), inputs(t).map(Seq(_))))

  private def stringCases(build: Expression => Expression): Seq[Case] =
    unaryCases(Seq(StringType), _ => texts)(build)

  private def vecCases(build: Expression => Expression): Seq[Case] =
    unaryCases(Seq(F, D), t => vecs(eltOf(t), 10, 12))(build)

  private def sparseCase(i1: DataType, v1: DataType, i2: DataType, v2: DataType): Case = {
    def idx(t: DataType, n: Int): Seq[Any] = {
      val is = sortedDistinct(Seq.fill(n)(rnd.nextInt(24)))
      if (eltOf(t) == LongType) is.map(_.toLong) else is
    }
    def side(it: DataType, vt: DataType): (Seq[Any], Seq[Any]) = {
      val is = idx(it, rnd.nextInt(12))
      (is, randVec(eltOf(vt), if (rnd.nextInt(4) == 0) rnd.nextInt(12) else is.length))
    }
    val random = Seq.fill(14) {
      val (a, b) = side(i1, v1); val (c, d) = side(i2, v2); Seq(a, b, c, d)
    }
    val (a, b) = side(i1, v1); val (c, d) = side(i2, v2)
    val odd = Seq(
      Seq(Seq.empty, Seq.empty, c, d),
      Seq(a, b, Seq.empty, Seq.empty),
      Seq(null, b, c, d),
      Seq(a, b, c, null),
      Seq(a, typed(eltOf(v1), Seq(1.0)).patch(0, Seq(null), 1), c, d))
    Case(Seq(i1, v1, i2, v2), es => SparseDotProduct(es(0), es(1), es(2), es(3)), random ++ odd)
  }

  private def multiCase(de: DataType, qe: DataType): Case = {
    def multi(elt: DataType): Seq[Any] =
      Seq.fill(rnd.nextInt(5))(randVec(elt, rnd.nextInt(7)))
    val random = Seq.fill(14)(Seq(multi(de), multi(qe)))
    val d = Seq(randVec(de, 4), randVec(de, 4)); val q = Seq(randVec(qe, 4))
    val odd = Seq(
      Seq(Seq.empty, q), Seq(d, Seq.empty), Seq(null, q), Seq(d, null),
      Seq(d :+ null, q), Seq(null +: d, q), Seq(d, q :+ null), Seq(Seq(null), q),
      Seq(d, Seq(null, null)), Seq(d :+ oddVecs(de).last, q :+ oddVecs(qe)(3)))
    Case(Seq(vecT(vecT(de)), vecT(vecT(qe))), es => MaxSim(es(0), es(1)), random ++ odd)
  }

  private val cases: Seq[Case] =
    densePairCases(DotProduct) ++
    densePairCases(CosineSimilarity) ++
    densePairCases(EuclideanDistance) ++
    densePairCases(ManhattanDistance) ++
    Seq(
      sparseCase(vecT(IntegerType), F, vecT(IntegerType), D),
      sparseCase(L, D, L, D),
      sparseCase(vecT(IntegerType), D, L, F)) ++
    Seq(multiCase(FloatType, DoubleType), multiCase(DoubleType, FloatType),
      multiCase(DoubleType, DoubleType)) ++
    unaryCases(Seq(L), _ => longArrays)(SimHash64) ++
    Seq(
      Case(Seq(vecT(StringType), vecT(StringType)),
        es => SortedIntersectCount(es(0), es(1)),
        Seq.fill(12)(Seq(
          sortedDistinct(Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length)))),
          sortedDistinct(Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length)))))) ++
          Seq(Seq(Seq.empty, Seq("a")), Seq(Seq("a", "b"), null), Seq(Seq("a", null), Seq("a")))),
      Case(Seq(L, L), es => SortedIntersectCount(es(0), es(1)),
        Seq.fill(12)(Seq(
          sortedDistinct(Seq.fill(rnd.nextInt(10))(rnd.nextInt(16).toLong)),
          sortedDistinct(Seq.fill(rnd.nextInt(10))(rnd.nextInt(16).toLong)))) ++
          Seq(Seq(Seq.empty, Seq(1L)), Seq(null, Seq(1L)), Seq(Seq(0L, null), Seq(0L, 2L))))) ++
    stringCases(SortedTokenHashSet) ++
    stringCases(WordShingleHashes(_, 1)) ++
    stringCases(WordShingleHashes(_, 3)) ++
    unaryCases(Seq(L), _ => longArrays)(MinHashSignature(_, 16, 42L)) ++
    unaryCases(Seq(L), _ => longArrays)(MinHashSignature(_, 1, 7L)) ++
    vecCases(HyperplaneSignature(_, 8, 16, 42L)) ++
    vecCases(HyperplaneSignature(_, 8, 64, 3L)) ++
    vecCases(HyperplaneSignature(_, 3, 8, 11L)) ++
    stringCases(RollingHash64) ++
    vecCases(QuantizeI8) ++
    Seq(Case(Seq(vecT(ByteType), vecT(ByteType)), es => DotProductI8(es(0), es(1)), {
      def bytes(n: Int): Seq[Any] = Seq.fill(n)((rnd.nextInt(255) - 127).toByte)
      Seq.fill(12) { val n = rnd.nextInt(20); Seq(bytes(n), bytes(n)) } ++
        Seq(Seq(bytes(3), bytes(5)), Seq(Seq.empty, bytes(2)), Seq(bytes(2), null),
          Seq(Seq(127.toByte, (-127).toByte), Seq(127.toByte, 127.toByte)),
          Seq(Seq(1.toByte, null, 3.toByte), bytes(3)))
    })) ++
    vecCases(SignProjection(_, 8, 4, 42L)) ++
    vecCases(SignProjection(_, 5, 1, 9L)) ++
    unaryCases(Seq(F, D), t =>
      vecs(eltOf(t), 6, 140))(PackSignBits) ++
    Seq(Case(Seq(L, L), es => HammingDistance(es(0), es(1)),
      longArrays.zip(longArrays.reverse).map { case (a, b) => Seq(a, b) })) ++
    stringCases(CharEntropy) ++
    stringCases(NfcNormalize) ++
    stringCases(StripAccents) ++
    stringCases(TextStats(_, Seq(Seq("the", "a", "and"), Seq("hello", "world", "café")))) ++
    Seq(IntegerType, LongType).map(pt => Case(Seq(posStruct(pt, DoubleType)),
      es => PosOrderedSum(es(0)),
      Seq.fill(10)(Seq(posRows(rnd.nextInt(12), pt == LongType, rnd.nextDouble() * 10 - 5))) ++
        Seq(Seq(Seq.empty), Seq(null),
          Seq(Seq(Row(if (pt == LongType) -1L else -1, 1.0)))))) ++
    Seq(IntegerType, LongType).map(pt => Case(Seq(posStruct(pt, StringType)),
      es => PosOrderedJoin(es(0), " | "),
      Seq.fill(10)(Seq(posRows(rnd.nextInt(8), pt == LongType,
        words(rnd.nextInt(words.length))))) ++
        Seq(Seq(Seq.empty), Seq(null),
          Seq(Seq(Row(if (pt == LongType) 1L else 1, null),
            Row(if (pt == LongType) 0L else 0, "x")))))) ++
    stringCases(ChunkWindows(_, 3, 2)) ++
    stringCases(ChunkWindows(_, 1, 1)) ++
    unaryCases(Seq(L), _ =>
      Seq.fill(10)(Seq.fill(rnd.nextInt(12))(rnd.nextInt(40).toLong)) ++
        Seq(Seq.empty, Seq(3L, 3L, 3L), null))(MergeIslands(_, 3)) ++
    Seq(Case(Seq(StringType,
        vecT(StructType(Seq(StructField("s", LongType), StructField("e", LongType))))),
      es => StripSpans(es(0), es(1)),
      texts.map(t => Seq(t, Seq.fill(rnd.nextInt(3)) {
        val s = rnd.nextInt(6).toLong; Row(s, s + rnd.nextInt(4))
      })) ++ Seq(Seq("a b c d", null), Seq("a b c d", Seq.empty)))) ++
    stringCases(WordShingles(_, 2, false)) ++
    stringCases(WordShingles(_, 2, true)) ++
    unaryCases(Seq(L), _ => longArrays)(PmodArray(_, 7L)) ++
    unaryCases(Seq(L), _ =>
      Seq.fill(10)(Seq.fill(rnd.nextInt(12))(rnd.nextInt(8).toLong)) ++
        Seq(Seq.empty, Seq(8L), Seq(-1L), null))(
      WeightedBucketSum(_, Array.tabulate(8)(i => 0.1 * i - 0.3))) ++
    Seq(Case(Seq(posStruct(IntegerType, D)), es => PosOrderedVecSum(es(0)),
      Seq.fill(10)(Seq(posRows(1 + rnd.nextInt(6), posLong = false,
        Seq.fill(3)(rnd.nextDouble() * 4 - 2)))) ++
        Seq(Seq(Seq.empty), Seq(null), Seq(Seq(Row(-1, Seq(1.0))))))) ++
    unaryCases(Seq(L), _ =>
      Seq.fill(10)(Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong)) ++
        Seq(Seq.empty, Seq(6L), null))(
      BucketVecSum(_, Array(Array(0.5, -1.0, 2.0), null, Array(0.1, 0.2, 0.3),
        Array(-0.0, 0.0, 1e300), null, Array(3.0, 2.0, 1.0)), 3))

  // ---- the three paths -----------------------------------------------------

  private type Outcome = Either[String, Any]

  /** Bit-level canonical form of a Scala-converted result. */
  private def canon(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToIntBits(f))
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  private def outcome(dt: DataType)(run: => Any): Outcome =
    try Right(canon(CatalystTypeConverters.convertToScala(run, dt)))
    catch { case e: Exception => Left(e.getClass.getName) }

  private def field0(r: InternalRow, dt: DataType): Any =
    if (r.isNullAt(0)) null else r.get(0, dt)

  /** Every path's outcome on one input tuple, labelled. */
  private def runAll(expr: Expression, types: Seq[DataType]): Seq[Any] => Seq[(String, Outcome)] = {
    val dt = expr.dataType
    val mutable = GenerateMutableProjection.generate(Seq(expr))
    val unsafe = UnsafeProjection.create(Seq(expr))
    assert(!unsafe.isInstanceOf[InterpretedUnsafeProjection],
      s"${expr.prettyName}: UnsafeProjection fell back to the interpreted path")
    val toRow = CatalystTypeConverters.createToCatalystConverter(StructType(
      types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) }))
    val toUnsafe = UnsafeProjection.create(types.toArray)
    in => {
      val generic = toRow(Row.fromSeq(in)).asInstanceOf[InternalRow]
      val packed = toUnsafe(generic).copy()
      Seq("generic" -> generic, "unsafe-row" -> packed).flatMap { case (rowKind, row) => Seq(
        s"eval/$rowKind" -> outcome(dt)(expr.eval(row)),
        s"mutable-projection/$rowKind" -> outcome(dt)(field0(mutable(row), dt)),
        s"unsafe-projection/$rowKind" -> outcome(dt)(field0(unsafe(row), dt)))
      }
    }
  }

  cases.groupBy(_.kernel).toSeq.sortBy(_._1).foreach { case (kernel, rows) =>
    test(s"$kernel: eval, mutable projection and unsafe projection agree bit for bit") {
      rows.foreach { c =>
        val expr = c.expr
        assert(expr.checkInputDataTypes().isSuccess,
          s"$kernel over ${c.types.map(_.catalogString)}: ${expr.checkInputDataTypes()}")
        val run = runAll(expr, c.types)
        c.inputs.foreach { in =>
          val outs = run(in)
          val (_, first) = outs.head
          outs.foreach { case (path, o) =>
            assert(o == first, s"$kernel over ${c.types.map(_.catalogString)} on $in: " +
              s"$path gave $o, ${outs.head._1} gave $first")
          }
        }
      }
    }
  }

  private def maxSimRow(de: DataType, qe: DataType): Case =
    Case(Seq(vecT(vecT(de)), vecT(vecT(qe))), es => MaxSim(es(0), es(1)), Nil)

  /** Rows whose outcome is pinned, not only agreed on: (kernel row, input,
    * the value every path must return).
    */
  private val pinned: Seq[(Case, Seq[Any], Any)] = Seq(
    // a NaN dot propagates through the max instead of losing to its -∞ seed
    (maxSimRow(FloatType, DoubleType), Seq(Seq(Seq(1f, 2f)), Seq(Seq(Double.NaN, 1.0))),
      Double.NaN),
    (maxSimRow(DoubleType, DoubleType), Seq(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)),
      Seq(Seq(Double.NaN, 1.0), Seq(1.0, 0.0))), Double.NaN),
    // an empty position array sums to an empty vector
    (Case(Seq(posStruct(IntegerType, D)), es => PosOrderedVecSum(es(0)), Nil),
      Seq(Seq.empty), Seq.empty[Double]),
    // a NULL element never matches, in either mode
    (Case(Seq(vecT(StringType), vecT(StringType)), es => SortedIntersectCount(es(0), es(1)), Nil),
      Seq(Seq("a", null), Seq("a", "b")), 1),
    (Case(Seq(L, L), es => SortedIntersectCount(es(0), es(1)), Nil),
      Seq(Seq(null, 5L), Seq(0L, 5L)), 1))

  test("pinned rows: NaN through v_maxsim, NULL elements in sorted_intersect_count, empty pos_ordered_vec_sum") {
    pinned.foreach { case (c, in, want) =>
      runAll(c.expr, c.types)(in).foreach { case (path, o) =>
        assert(o == Right(canon(want)), s"${c.kernel} on $in: $path gave $o, want $want")
      }
    }
    assert(java.lang.Double.isNaN(SearchSpec.scoreMulti(
      Array(Array(1f, 2f)), Array(Array(Double.NaN, 1.0)))))
  }

  test("every case class in VectorExpressions.scala has a parity row") {
    val src = Paths.get("src/main/scala/graft/functions/VectorExpressions.scala")
    assert(Files.exists(src), s"kernel source not found from ${Paths.get("").toAbsolutePath}")
    val declared = "(?m)^\\s*case class (\\w+)".r
      .findAllMatchIn(new String(Files.readAllBytes(src), UTF_8)).map(_.group(1)).toSet
    // a CodegenFallback generator: it has a single (interpreted) path
    val exempt = Set("FirstBandPairs")
    assert(declared.size > 30, declared)
    val missing = declared -- exempt -- cases.map(_.kernel)
    assert(missing.isEmpty, s"kernels without a parity row: ${missing.toSeq.sorted}")
  }

  // ---- store-side copies ---------------------------------------------------

  /** Per input, the one outcome every path of `expr` agrees on. */
  private def agreed(expr: Expression, types: Seq[DataType]): Seq[Any] => Outcome = {
    val run = runAll(expr, types)
    in => {
      val outs = run(in).map(_._2).distinct
      assert(outs.size == 1, s"${expr.prettyName} paths disagree on $in: $outs")
      outs.head
    }
  }

  test("v_cosine/v_dot/v_euclid, v_sparse_dot and v_maxsim equal the store-side scorers") {
    val b = (e: Any) => Right(canon(e)): Outcome
    val docs = Seq.fill(20)(Array.fill(rnd.nextInt(12))((rnd.nextDouble() * 20 - 10).toFloat)) ++
      Seq(Array.empty[Float], Array(0f, 0f), Array(1f, -2f, 3f))
    val qs = docs.map(d => Array.fill(d.length + rnd.nextInt(3) - 1 max 0)(rnd.nextDouble() * 20 - 10)) ++
      Seq(Array(0.0, 0.0, 0.0))
    val dense = Seq[(String, (Expression, Expression) => Expression)](
      "cosine" -> CosineSimilarity, "dot" -> DotProduct, "euclid" -> EuclideanDistance)
      .map { case (metric, mk) =>
        metric -> agreed(mk(BoundReference(0, F, true), BoundReference(1, D, true)), Seq(F, D))
      }
    for (d <- docs; q <- qs.take(4) :+ qs(docs.indexOf(d)); (metric, expr) <- dense) {
      val store = SearchSpec.score(metric, d, q).map(x => x: Any).orNull
      assert(expr(Seq(d.toSeq, q.toSeq)) == b(store), s"$metric on ${d.toSeq} / ${q.toSeq}")
    }
    val sparseTypes = Seq(vecT(IntegerType), F, vecT(IntegerType), D)
    val sparse = agreed(SparseDotProduct(BoundReference(0, sparseTypes(0), true),
      BoundReference(1, F, true), BoundReference(2, sparseTypes(2), true),
      BoundReference(3, D, true)), sparseTypes)
    Seq.fill(30) {
      val di = sortedDistinct(Seq.fill(rnd.nextInt(10))(rnd.nextInt(20))).toArray
      val qi = sortedDistinct(Seq.fill(rnd.nextInt(10))(rnd.nextInt(20))).toArray
      val dv = di.map(_ => (rnd.nextDouble() * 4 - 2).toFloat)
      val qv = qi.map(_ => rnd.nextDouble() * 4 - 2)
      val store = SearchSpec.scoreSparse(di, dv, qi, qv).getOrElse(0.0)
      assert(sparse(Seq(di.toSeq, dv.toSeq, qi.toSeq, qv.toSeq)) == b(store),
        s"sparse ${di.toSeq} / ${qi.toSeq}")
    }
    val multiTypes = Seq(vecT(F), vecT(D))
    val maxsim = agreed(MaxSim(BoundReference(0, multiTypes(0), true),
      BoundReference(1, multiTypes(1), true)), multiTypes)
    (Seq.fill(30) {
      (Array.fill(rnd.nextInt(4))(Array.fill(rnd.nextInt(6))((rnd.nextDouble() * 4 - 2).toFloat)),
        Array.fill(rnd.nextInt(4))(Array.fill(rnd.nextInt(6))(rnd.nextDouble() * 4 - 2)))
    } ++ Seq((Array.empty[Array[Float]], Array(Array(1.0))),
      (Array(Array(1f)), Array.empty[Array[Double]]))).foreach { case (doc, qm) =>
      val store = SearchSpec.scoreMulti(doc, qm)
      assert(maxsim(Seq(doc.toSeq.map(_.toSeq), qm.toSeq.map(_.toSeq))) == b(store), "maxsim")
    }
  }
}
