package graftbench

import scala.util.Random

/** Seeded input generators. The same seed gives byte-identical inputs
  * ([[Gen.fingerprint]] is what [[SelfTest]] compares); the engine sees
  * only what these produce.
  */
object Gen {

  /** An independent stream per (seed, purpose), so adding draws to one
    * input never shifts another.
    */
  def rng(seed: Long, stream: Int): Random = new Random(seed * 1000003L + stream)

  // ------------------------------------------------------ collections --

  final case class Pt(id: String, vec: Array[Float], label: Int, category: String,
                      price: Int) {
    def payload: String = s"""{"label":$label,"category":"$category","price":$price}"""
  }

  val Labels = 50 // a `label` equality filter matches ~2 % of the points
  val Categories: Seq[String] = Seq("a", "b") // a `category` filter matches ~50 %

  /** `n` points in `dim` dimensions drawn around `clusters` Gaussian
    * centres, with a JSON payload of a label, a category and a price.
    */
  final case class Collection(dim: Int, centres: IndexedSeq[Array[Double]],
                              points: IndexedSeq[Pt])

  def collection(seed: Long, n: Int, dim: Int, clusters: Int): Collection = {
    val r = rng(seed, 1)
    val centres = IndexedSeq.fill(clusters)(Array.fill(dim)(r.nextGaussian()))
    val pts = (0 until n).map(i => point(r, f"p$i%06d", centres))
    Collection(dim, centres, pts)
  }

  def point(r: Random, id: String, centres: IndexedSeq[Array[Double]]): Pt = {
    val c = centres(r.nextInt(centres.length))
    Pt(id, c.map(x => (x + 0.45 * r.nextGaussian()).toFloat),
      r.nextInt(Labels), Categories(r.nextInt(Categories.length)), 1 + r.nextInt(1000))
  }

  /** A query near a random centre, rounded to 4 decimals so its SQL
    * literal (`0.1234D`) parses back to exactly the same double.
    */
  def query(r: Random, centres: IndexedSeq[Array[Double]]): Array[Double] = {
    val c = centres(r.nextInt(centres.length))
    c.map(x => math.round((x + 0.6 * r.nextGaussian()) * 1e4) / 1e4)
  }

  // ------------------------------------------------------------- SQL --

  /** A statement; `shape` is `<class>.<form>` (class `topk` or `scan`). */
  sealed trait Stmt {
    def shape: String
    def sql: String
    def cls: String = shape.takeWhile(_ != '.')
  }
  final case class TopK(q: Array[Double], category: Option[String]) extends Stmt {
    val shape: String = if (category.isEmpty) "topk.all" else "topk.category"
    def sql: String = {
      val lit = q.map(x => s"${x}D").mkString("array(", ", ", ")")
      val where = category.fold("")(c => s" WHERE payload->>'category' = '$c'")
      s"SELECT id, v_cosine(vector, $lit) AS score FROM bench.pts$where " +
        s"ORDER BY v_cosine(vector, $lit) DESC, id LIMIT 10"
    }
  }
  final case class GroupBy(key: String) extends Stmt {
    val shape = "scan.groupby"
    def sql: String =
      s"SELECT payload->>'$key' AS k, count(*) AS n, " +
        s"sum(CAST(payload->>'price' AS BIGINT)) AS p FROM bench.pts GROUP BY payload->>'$key'"
  }
  final case class IdLookup(ids: Seq[String]) extends Stmt {
    val shape = "scan.lookup"
    def sql: String =
      s"SELECT id, payload FROM bench.pts WHERE id IN (${ids.map(i => s"'$i'").mkString(", ")})"
  }
  final case class Project(limit: Int) extends Stmt {
    val shape = "scan.project"
    def sql: String =
      s"SELECT id, payload->>'label' AS label FROM bench.pts LIMIT $limit"
  }

  /** The statement stream: a fixed cycle of shapes — half top-k (a
    * third of those with a category predicate), half scans (group-by,
    * id lookup, projection) — with seeded parameters. The fixed cycle
    * keeps every run's class mix the same, whatever its length.
    */
  def statements(seed: Long, c: Collection): Iterator[Stmt] = {
    val r = rng(seed, 2)
    def cat() = Categories(r.nextInt(Categories.length))
    Iterator.from(0).map(i => i % 6 match {
      case 0 => TopK(query(r, c.centres), None)
      case 1 => GroupBy(if (r.nextBoolean()) "category" else "label")
      case 2 => TopK(query(r, c.centres), Some(cat()))
      case 3 => IdLookup(Seq.fill(8)(c.points(r.nextInt(c.points.length)).id).distinct)
      case 4 => TopK(query(r, c.centres), None)
      case _ => Project(20 + r.nextInt(80))
    })
  }

  // ------------------------------------------------------------ curate --

  final case class Doc(id: Long, text: String, emb: Array[Float])

  /** A deduplication corpus and what was planted in it.
    *
    *  - `pairs`: (base, member) pairs of the light-edit families and of
    *    the hot family ([[HotMax]] documents from one template, which
    *    fill one LSH bucket per band). A member differs from its base by
    *    one token, so token-set Jaccard stays well above 0.8, and its
    *    embedding is the base's plus tiny noise (cosine > 0.9999): the
    *    same pairs are planted on the text and the embedding side;
    *  - `maxBucket` / `candidatePairBound`: the largest LSH bucket and the
    *    most candidate pairs the planted structure can produce, asserted
    *    before anything runs so a generator change cannot silently turn
    *    the corpus quadratic.
    */
  final case class Corpus(docs: IndexedSeq[Doc], pairs: Seq[(Long, Long)],
                          maxBucket: Int, candidatePairBound: Long)

  val Vocab = 4000
  val EmbDim = 64
  val HotMax = 48
  val FamilyMax = 4
  /** Candidate-pair budget per LSH pass: planted families plus the
    * random band collisions of [[EmbDim]]-d sign bits at 16-bit band keys.
    */
  def pairBudget(n: Int): Long = 20000L + 4L * n.toLong * n / 65536

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(i => 1.0 / math.pow(i + 1, 1.05))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }

  private def zipfToken(r: Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    s"w${if (i >= 0) i else -i - 1}"
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 3)
    val docs = IndexedSeq.newBuilder[Doc]
    val pairs = Seq.newBuilder[(Long, Long)]
    var next = 0
    // ids are longs: the connected-components operator labels by id
    def newId(): Long = { next += 1; 1000000L + next }
    def baseText(): Array[String] = Array.fill(40 + r.nextInt(21))(zipfToken(r))
    def baseEmb(): Array[Double] = Array.fill(EmbDim)(r.nextGaussian())
    def near(e: Array[Double]): Array[Float] = {
      val u = unit(e).map(_.toDouble)
      unit(u.map(x => x + 0.001 * r.nextGaussian()))
    }
    // the hot family: one template, each member with its own final token
    val template = baseText()
    val hotEmb = baseEmb()
    val hotIds = (0 until HotMax).map { i =>
      val id = newId()
      docs += Doc(id, (template :+ s"t$i").mkString(" "), near(hotEmb)); id
    }
    hotIds.tail.foreach(m => pairs += ((hotIds.head, m)))
    // light-edit families (one base + 1..FamilyMax-1 members) amid singletons
    var familyPairs = 0L
    while (next < n) {
      val base = baseText()
      val emb = baseEmb()
      val bid = newId()
      docs += Doc(bid, base.mkString(" "), unit(emb))
      if (r.nextInt(8) == 0) {
        val members = 1 + r.nextInt(FamilyMax - 1)
        familyPairs += (members + 1).toLong * members / 2
        (0 until members).foreach { _ =>
          if (next < n) {
            val edited = base.clone()
            edited(r.nextInt(edited.length)) = s"x${r.nextInt(1 << 30)}"
            val mid = newId()
            docs += Doc(mid, edited.mkString(" "), near(emb))
            pairs += ((bid, mid))
          }
        }
      }
    }
    val hotPairs = HotMax.toLong * (HotMax - 1) / 2
    val bound = hotPairs + familyPairs + 4L * n.toLong * n / 65536
    require(bound <= pairBudget(n),
      s"planted structure allows $bound candidate pairs, budget ${pairBudget(n)}")
    Corpus(docs.result(), pairs.result(), math.max(HotMax, FamilyMax), bound)
  }

  /** A byte fingerprint of generated inputs (SHA-256 over their text). */
  def fingerprint(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0: Byte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def fingerprintCollection(c: Collection): String =
    fingerprint(c.points.iterator.map(p => p.id + p.payload + p.vec.mkString(",")))

  def fingerprintCorpus(c: Corpus): String =
    fingerprint(c.docs.iterator.map(d => d.id + d.text + d.emb.mkString(",")))
}
