package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import graft.functions._

/** Algebraic property checks of the kernel expressions, run on the
  * interpreted eval path (no Spark session needed). That eval path and
  * both codegen paths are pinned bit-equal, kernel by kernel, in
  * [[KernelParitySpec]].
  */
object KernelProperties extends Properties("graft.kernels") {

  private def arr(xs: Seq[Double]): Literal =
    Literal.create(new GenericArrayData(xs.toArray),
      ArrayType(DoubleType, containsNull = false))
  private def larr(xs: Seq[Long]): Literal =
    Literal.create(new GenericArrayData(xs.toArray),
      ArrayType(LongType, containsNull = false))

  private val vecPair: Gen[(List[Double], List[Double])] = for {
    n <- Gen.choose(1, 32)
    a <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
    b <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield (a, b)

  property("dot is symmetric") = forAll(vecPair) { case (a, b) =>
    DotProduct(arr(a), arr(b)).eval(null) == DotProduct(arr(b), arr(a)).eval(null)
  }

  property("cosine is bounded and symmetric") = forAll(vecPair) { case (a, b) =>
    val c = CosineSimilarity(arr(a), arr(b)).eval(null)
    val c2 = CosineSimilarity(arr(b), arr(a)).eval(null)
    (c == null && c2 == null) || {
      val d = c.asInstanceOf[Double]
      d >= -1.0 - 1e-9 && d <= 1.0 + 1e-9 && d == c2.asInstanceOf[Double]
    }
  }

  property("cosine of a vector with itself is 1") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0.1, 50.0))) { a =>
      val c = CosineSimilarity(arr(a), arr(a)).eval(null).asInstanceOf[Double]
      math.abs(c - 1.0) < 1e-9
    }

  property("euclid is non-negative, zero on self, symmetric") =
    forAll(vecPair) { case (a, b) =>
      val d = EuclideanDistance(arr(a), arr(b)).eval(null).asInstanceOf[Double]
      val d2 = EuclideanDistance(arr(b), arr(a)).eval(null).asInstanceOf[Double]
      val self = EuclideanDistance(arr(a), arr(a)).eval(null).asInstanceOf[Double]
      d >= 0.0 && d == d2 && self == 0.0
    }

  property("sparse dot over full index range equals dense dot") =
    forAll(vecPair) { case (a, b) =>
      val idx = a.indices.map(_.toLong)
      val sd = SparseDotProduct(larr(idx), arr(a), larr(idx), arr(b))
        .eval(null).asInstanceOf[Double]
      val dd = DotProduct(arr(a), arr(b)).eval(null).asInstanceOf[Double]
      math.abs(sd - dd) < 1e-9
    }

  property("sparse dot with disjoint indices is 0") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-10.0, 10.0))) { a =>
      val n = a.length
      val i1 = (0 until n).map(i => (2L * i))        // evens
      val i2 = (0 until n).map(i => (2L * i + 1))    // odds
      SparseDotProduct(larr(i1), arr(a), larr(i2), arr(a))
        .eval(null).asInstanceOf[Double] == 0.0
    }

  property("minhash signature is deterministic with stable length") =
    forAll(Gen.nonEmptyListOf(Gen.long)) { hs =>
      val e1 = MinHashSignature(larr(hs), 16, 42L).eval(null)
        .asInstanceOf[GenericArrayData].toLongArray()
      val e2 = MinHashSignature(larr(hs), 16, 42L).eval(null)
        .asInstanceOf[GenericArrayData].toLongArray()
      e1.toSeq == e2.toSeq && e1.length == 16
    }

  property("minhash of a superset is element-wise <=") =
    forAll(Gen.nonEmptyListOf(Gen.long), Gen.nonEmptyListOf(Gen.long)) { (a, b) =>
      val sa = MinHashSignature(larr(a), 8, 1L).eval(null)
        .asInstanceOf[GenericArrayData].toLongArray()
      val sab = MinHashSignature(larr(a ++ b), 8, 1L).eval(null)
        .asInstanceOf[GenericArrayData].toLongArray()
      sa.zip(sab).forall { case (x, y) => y <= x }
    }

  property("lsh_signature equals the per-plane v_dot composition on random vectors") =
    forAll(for {
      dim <- Gen.choose(1, 32)
      nbits <- Gen.oneOf(8, 16, 64)
      v <- Gen.listOfN(dim, Gen.choose(-100.0, 100.0))
    } yield (dim, nbits, v)) { case (dim, nbits, v) =>
      val fused = HyperplaneSignature(arr(v), dim, nbits, 42L)
        .eval(null).asInstanceOf[Long]
      val planes = graft.ops.Ann.lshPlanes(dim, nbits, 42L)
      val composed = planes.zipWithIndex.map { case (p, i) =>
        if (DotProduct(arr(v), arr(p)).eval(null).asInstanceOf[Double] >= 0)
          1L << i
        else 0L
      }.reduce(_ | _)
      fused == composed
    }

  property("simhash of identical inputs matches; hamming <= 64") =
    forAll(Gen.nonEmptyListOf(Gen.long)) { hs =>
      val s1 = SimHash64(larr(hs)).eval(null).asInstanceOf[Long]
      val s2 = SimHash64(larr(hs)).eval(null).asInstanceOf[Long]
      s1 == s2
    }

  /** The candidate-completeness invariant Dedup.simhashDedup's
    * `maxDist < bands` guard relies on (Dedup.scala banding docstring):
    * flipping d < bands bits can dirty at most d of the bands, so by
    * pigeonhole at least one band's chunk is untouched — every pair
    * within hamming distance d < bands shares some band bucket. Checked
    * at every compliant width: (4,16), (8,8), (32,2).
    */
  private val bandingCase: Gen[(Long, Long, Int, Int)] = for {
    x <- Gen.long
    bw <- Gen.oneOf((4, 16), (8, 8), (32, 2))
    d <- Gen.choose(0, bw._1 - 1)
    flips <- Gen.pick(d, 0 until 64)
  } yield (x, flips.foldLeft(x)((v, p) => v ^ (1L << p)), bw._1, bw._2)

  property("simhash banding pigeonhole: hamming < bands => some band chunk agrees") =
    forAll(bandingCase) { case (a, b, bands, bits) =>
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      java.lang.Long.bitCount(a ^ b) < bands &&
        (0 until bands).exists(i =>
          ((a >>> (i * bits)) & mask) == ((b >>> (i * bits)) & mask))
    }

  property("maxsim >= dot of any single doc vector with the whole query") =
    forAll(vecPair) { case (q, d) =>
      val doc = Literal.create(
        new GenericArrayData(Array(new GenericArrayData(d.toArray): Any)),
        ArrayType(ArrayType(DoubleType, false), false))
      val qry = Literal.create(
        new GenericArrayData(Array(new GenericArrayData(q.toArray): Any)),
        ArrayType(ArrayType(DoubleType, false), false))
      val ms = MaxSim(doc, qry).eval(null).asInstanceOf[Double]
      val dd = DotProduct(arr(d), arr(q)).eval(null).asInstanceOf[Double]
      math.abs(ms - dd) < 1e-9   // single doc + single query = their dot
    }

  // -- round-2 kernels ------------------------------------------------------

  private val asciiWord: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n,
      Gen.frequency(8 -> Gen.alphaChar, 2 -> Gen.oneOf('0', '9', '.', ','))).map(_.mkString))
  private val asciiText: Gen[String] = for {
    n <- Gen.choose(0, 20)
    ws <- Gen.listOfN(n + 1, Gen.oneOf(" ", "  ", "\t", "\n", " \r "))
    words <- Gen.listOfN(n, asciiWord)
  } yield ws.head + words.zip(ws.tail).map { case (w, s) => w + s }.mkString

  private val statsProfiles = Seq(Seq("the", "a.", "zz"), Seq("q"))

  property("text_stats token count matches the HOF tokenizer") =
    forAll(asciiText) { t =>
      val row = TextStats(Literal.create(t, StringType), statsProfiles)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val expected = t.toLowerCase.split("\\s+").count(_.nonEmpty)
      row.getInt(0) == expected
    }

  property("text_stats profile occurrence counts match naive counting") =
    forAll(asciiText) { t =>
      val row = TextStats(Literal.create(t, StringType), statsProfiles)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val occ = row.getArray(3)
      val dist = row.getArray(4)
      statsProfiles.zipWithIndex.forall { case (p, i) =>
        occ.getInt(i) == toks.count(p.contains) &&
          dist.getInt(i) == toks.distinct.count(p.contains)
      }
    }

  property("quantize_i8 round-trips within scale/2 and codes fit int8") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-10.0, 10.0))) { xs =>
      val row = QuantizeI8(arr(xs)).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val codes = row.getArray(0)
      val scale = row.getFloat(1)
      xs.indices.forall { i =>
        val c = codes.getByte(i)
        c >= -127 && c <= 127 &&
          (scale == 0f || math.abs(c * scale.toDouble - xs(i)) <= scale / 2.0 + 1e-9)
      }
    }

  property("v_dot_i8 equals the double dot of the byte values") =
    forAll(Gen.choose(1, 64).flatMap(n =>
      Gen.zip(Gen.listOfN(n, Gen.choose(-127, 127)), Gen.listOfN(n, Gen.choose(-127, 127))))) {
      case (a, b) =>
        val la = Literal.create(new GenericArrayData(a.map(_.toByte).toArray),
          ArrayType(ByteType, containsNull = false))
        val lb = Literal.create(new GenericArrayData(b.map(_.toByte).toArray),
          ArrayType(ByteType, containsNull = false))
        val d = DotProductI8(la, lb).eval(null).asInstanceOf[Double]
        d == a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    }

  // -- descriptor <-> schema (the catalog's CREATE TABLE inference) ---------

  private val fieldName: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (h :: t).mkString

  private val descriptorGen: Gen[graft.collections.CollectionDescriptor] = for {
    n <- Gen.choose(1, 5)
    names <- Gen.listOfN(n, fieldName).retryUntil(ns => ns.distinct.size == ns.size)
    kinds <- Gen.listOfN(n, Gen.choose(0, 2))
    named <- Gen.oneOf(true, false)
  } yield {
    import graft.collections._
    val fields = names.zip(kinds).map {
      case (nm, 0) => DenseField(nm, 8)
      case (nm, 1) => MultiField(nm, 8)
      case (nm, _) => SparseField(nm)
    }
    // unnamed = single dense field only (the reference's single-vector
    // collection); anything else must be named
    val isUnnamed = !named && fields.sizeIs == 1 &&
      fields.head.isInstanceOf[DenseField]
    CollectionDescriptor("c", fields, named = !isUnnamed)
  }

  property("descriptor -> schema -> fromSchema is a schema-level fixpoint") =
    forAll(descriptorGen) { d =>
      // fromSchema cannot recover advisory dims or distinguish a NAMED
      // single dense field literally called `vector` from the unnamed
      // form — the invariant is that the recovered descriptor produces
      // the IDENTICAL physical schema (what reads/writes dispatch on)
      graft.collections.CollectionDescriptor.fromSchema("c", d.schema).schema == d.schema
    }

  // vectors spanning the word boundaries that matter for sign packing
  private val signVec: Gen[List[Double]] = for {
    n <- Gen.oneOf(Gen.choose(1, 5), Gen.oneOf(63, 64, 65, 127, 128, 129))
    a <- Gen.listOfN(n, Gen.oneOf(Gen.choose(-10.0, 10.0), Gen.const(0.0)))
  } yield a

  property("pack_sign_bits + hamming equals the per-dim sign-mismatch count") =
    forAll(signVec, signVec) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      val pa = PackSignBits(arr(a)).eval(null)
      val pb = PackSignBits(arr(b)).eval(null)
      val got = HammingDistance(Literal.create(pa, ArrayType(LongType, false)),
        Literal.create(pb, ArrayType(LongType, false))).eval(null)
      val want = a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
      got == want
    }

  property("packed word count is ceil(n/64) and self-hamming is 0") =
    forAll(signVec) { a =>
      val p = PackSignBits(arr(a)).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val lit = Literal.create(p, ArrayType(LongType, false))
      p.numElements() == (a.length + 63) / 64 &&
        HammingDistance(lit, lit).eval(null) == 0
    }

  // mixed ASCII + multi-byte code points (the kernel iterates code
  // points, not UTF-16 units or bytes)
  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("é", "ß", "中", "文", "🙂"))).map(_.mkString)

  property("char entropy matches the naive distribution formula") =
    forAll(textGen) { s =>
      val got = CharEntropyKernel.entropy(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val cps = s.codePoints().toArray
      if (cps.isEmpty) got == 0.0
      else {
        val n = cps.length.toDouble
        val want = -cps.groupBy(identity).values
          .map(g => g.length / n * math.log(g.length / n)).sum
        math.abs(got - want) < 1e-9 &&
          got >= -1e-12 && got <= math.log(n) + 1e-9
      }
    }

  property("char entropy is permutation-invariant (exactly — the kernel sorts)") =
    forAll(textGen) { s =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString _
      // permute CODE POINTS, not UTF-16 units (a char shuffle would split
      // surrogate pairs and change the multiset)
      val cps = scala.util.Random.shuffle(s.codePoints().toArray.toList).toArray
      val shuffled = new String(cps, 0, cps.length)
      CharEntropyKernel.entropy(u(s)) == CharEntropyKernel.entropy(u(shuffled))
    }
}
