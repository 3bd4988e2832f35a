package graft

import graft.functions.HashKernel

/** Generates DuckDB SQL that mirrors the native hash kernels
  * (ShingleKernel / MinHashSignature / SimHash64, see
  * functions/VectorExpressions.scala) bit-for-bit, so the hash-based dedup
  * operators get full value-level oracles instead of rows-only checks.
  *
  * All JVM long arithmetic is reproduced in HUGEINT mod 2^64; 64x64-bit
  * products that would overflow HUGEINT split the constant into 32-bit
  * halves ((hi*x mod 2^32)*2^32 + lo*x, mod 2^64). XOR/shift steps run in
  * UBIGINT (logical shift, same bits as Java's >>>). Signed comparisons
  * (Java long MIN in the minhash sweep) convert u >= 2^63 to u - 2^64.
  * The corpus is ASCII (TESTDATA.md), so ascii(ch) == the UTF-8 byte the
  * JVM kernel folds.
  */
object DuckMirror {

  private val M64 = BigInt(1) << 64
  private def u64(l: Long): BigInt = BigInt(l) & (M64 - 1)

  private val FnvOffset = u64(0xcbf29ce484222325L)
  private val FnvPrime = u64(0x100000001b3L)
  private val Golden = u64(0x9e3779b97f4a7c15L)
  private val Sh0 = BigInt(1125899906842597L)
  private val MixC = u64(0xff51afd7ed558ccdL)

  /** (c * x) mod 2^64 for a constant c and HUGEINT expression x, without
    * overflowing HUGEINT: c = hi*2^32 + lo, both halves' products < 2^96.
    */
  private def mulMod(c: BigInt, x: String): String = {
    val hi = c >> 32
    val lo = c & 0xffffffffL
    s"((($hi::HUGEINT * ($x)) % 4294967296::HUGEINT) * 4294967296::HUGEINT + $lo::HUGEINT * ($x)) % $M64::HUGEINT"
  }

  /** FNV-1a (ASCII case-folded via lower()) of lambda token `t` -> HUGEINT.
    * Mirrors ShingleKernel pass 1: h = (h ^ byte) * FNV_PRIME per byte.
    * The per-byte XOR touches only the low 8 bits: h - h%256 + (h%256 ^ b).
    */
  private val fnvOfT: String =
    s"""list_reduce(
       |  list_concat([$FnvOffset::HUGEINT], list_transform(range(1, len(t) + 1), i -> ascii(t[i])::HUGEINT)),
       |  (h, c) -> ((h - (h % 256) + xor((h % 256)::BIGINT, c::BIGINT)::HUGEINT) * $FnvPrime::HUGEINT) % $M64::HUGEINT)""".stripMargin

  /** Shared prefix: near-dup corpus -> whitespace tokens -> FNV token
    * hashes (`th`, HUGEINT list) -> w=1 shingle hashes (`hs1`, UBIGINT
    * list; ShingleKernel pass 2 with w=1: xorshift32(SH0*G + fnv)).
    */
  private val corpusToSh1: String = {
    val k1 = (Sh0 * Golden) % M64
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' zzz' FROM documents WHERE doc_id % 7 = 0),
       |th AS (
       |  SELECT doc_id, list_transform(
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0),
       |    t -> $fnvOfT) AS th
       |  FROM corpus),
       |sh1a AS (
       |  SELECT doc_id, list_transform(th, t -> CAST(($k1::HUGEINT + t) % $M64::HUGEINT AS UBIGINT)) AS v
       |  FROM th),
       |sh1 AS (
       |  SELECT doc_id, list_transform(v, u -> xor(u, u >> 32)) AS hs1 FROM sh1a)""".stripMargin
  }

  /** UBIGINT column expr -> signed BIGINT with Java long semantics. */
  private def toSigned(u: String): String = signed64(s"CAST($u AS HUGEINT)")

  /** dedup_simhash oracle: SimHash64 over the w=1 shingle hashes, banded
    * into four 16-bit chunks, hamming <= maxDist (Dedup.simhashDedup).
    */
  def simhashSql(maxDist: Int): String = {
    val bitSums = (0 until 64)
      .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n    ")
    // bit j of the simhash is 1 iff the signed majority count is > 0
    val simExpr = (0 until 64)
      .map(j => s"CASE WHEN s$j > 0 THEN ${BigInt(1) << j}::UBIGINT ELSE 0::UBIGINT END")
      .mkString(" + ")
    s"""WITH $corpusToSh1,
       |trows AS (SELECT doc_id, unnest(hs1) AS h FROM sh1),
       |bitsums AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM trows GROUP BY doc_id),
       |-- LEFT JOIN from the corpus doc list: a token-less doc has no trows
       |-- rows, but the Spark kernel still emits signature 0 for it (every
       |-- CASE sees NULL s_j -> ELSE 0), so it must participate in banding
       |sim AS (SELECT c.doc_id, ($simExpr) AS sim
       |        FROM (SELECT doc_id FROM corpus) c
       |        LEFT JOIN bitsums USING (doc_id)),
       |chunks AS (
       |  SELECT doc_id, sim, band, CAST((sim >> CAST(16 * band AS INTEGER)) & 65535 AS INTEGER) AS chunk
       |  FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) b(band)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.sim AS asim, b.sim AS bsim
       |  FROM chunks a JOIN chunks b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(asim, bsim)) AS INTEGER) AS hamming
       |FROM cands
       |WHERE bit_count(xor(asim, bsim)) <= $maxDist
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** ann_lsh oracle: the hyperplane family is inlined as exact
    * shortest-round-trip double literals (DuckDB parses them back to the
    * identical IEEE value), dots accumulate in the kernel's sequential
    * order via list_reduce, banding and rerank mirror Ann.searchLsh.
    */
  /** The hyperplane signature as one SQL expression over a `v` DOUBLE[]
    * column: plane coordinates inlined as exact shortest-round-trip double
    * literals (DuckDB parses them back to the identical IEEE value), dots
    * accumulated in the kernel's sequential order via list_reduce. Shared
    * by [[lshSql]] and [[embeddingLshSql]] so the two mirrors can never
    * diverge on sign convention or literal rendering.
    */
  private def lshBucketExpr(dim: Int, nbits: Int, seed: Long): String =
    graft.ops.Ann.lshPlanes(dim, nbits, seed).zipWithIndex.map { case (p, i) =>
      val lits = p.map(x => java.lang.Double.toString(x).replace("E", "e")).mkString("[", ", ", "]")
      // HUGEINT bit weights: at nbits=64 the top bit exceeds signed
      // BIGINT, and the band-key `// %` arithmetic below is only the
      // unsigned-shift twin of the Spark side over a NON-NEGATIVE bucket
      // (signed division truncates toward zero and would mis-bucket any
      // signature with bit 63 set)
      s"CASE WHEN list_reduce(list_transform(range(1, ${dim + 1}), j -> v[j] * ($lits)[j]), (a, b) -> a + b) >= 0 THEN ${BigInt(1) << i}::HUGEINT ELSE 0::HUGEINT END"
    }.mkString("(", " + ", ")")

  /** `(bucket // shift) % mod` band-key arithmetic of band `b` (the SQL
    * form of `(bucket >>> b*r) & mask`), applied to `expr`.
    */
  private def lshBandKey(expr: String, b: Int, rowsPerBand: Int): String = {
    val shift = 1L << (b * rowsPerBand)
    val mod = 1L << rowsPerBand
    s"(($expr // $shift) % $mod)"
  }

  def lshSql(queryVecId: Int, k: Int, dim: Int, nbits: Int, bands: Int,
             seed: Long): String = {
    val r = nbits / bands
    val bitExprs = lshBucketExpr(dim, nbits, seed)
    val bandEq = (0 until bands).map(b =>
      s"${lshBandKey("s.bucket", b, r)} = ${lshBandKey("q.bucket", b, r)}")
      .mkString(" OR ")
    s"""WITH sigs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         $bitExprs AS bucket
       |  FROM embeddings),
       |q AS (SELECT bucket, v FROM sigs WHERE vec_id = $queryVecId)
       |SELECT CAST(s.vec_id AS VARCHAR) AS id,
       |       ROUND(list_cosine_similarity(s.v, q.v), 6) AS score
       |FROM sigs s, q
       |WHERE s.vec_id <> $queryVecId AND ($bandEq)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** ann_lsh_multiprobe oracle: [[lshSql]]'s candidate predicate widened
    * to 1-bit multiprobe — a row is a candidate when any band's key
    * equals the query's key OR any single-bit flip of it
    * (Ann.multiprobeKeys). Band keys are < 2^r, so the xor runs in plain
    * BIGINT.
    */
  /** Mirror of the whole k-NN-graph pipeline (build + serve):
    * band-matched candidate edges -> per-node top-`m` by rounded cosine
    * (string-id tiebreaks, like the engine) -> `entryK` exact-scored LSH
    * entries -> one-hop expansion -> exact rerank.
    */
  def knnGraphSql(queryVecId: Int, k: Int, entryK: Int, m: Int, dim: Int,
                  nbits: Int, bands: Int, seed: Long,
                  hops: Int = 1): String = {
    val r = nbits / bands
    val bitExprs = lshBucketExpr(dim, nbits, seed)
    def bandEq(x: String, y: String) = (0 until bands).map(b =>
      s"${lshBandKey(s"$x.bucket", b, r)} = ${lshBandKey(s"$y.bucket", b, r)}")
      .mkString(" OR ")
    val frontier = (1 to hops).map(i =>
      s"""f$i AS (SELECT id FROM f${i - 1}
         |        UNION
         |        SELECT adj.nbr FROM adj JOIN f${i - 1} ON adj.src = f${i - 1}.id)""".stripMargin)
      .mkString(",\n")
    s"""WITH sigs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         $bitExprs AS bucket
       |  FROM embeddings),
       |q AS (SELECT bucket, v FROM sigs WHERE vec_id = $queryVecId),
       |entries AS (
       |  SELECT CAST(s.vec_id AS VARCHAR) AS id
       |  FROM sigs s, q
       |  WHERE s.vec_id <> $queryVecId AND (${bandEq("s", "q")})
       |  ORDER BY ROUND(list_cosine_similarity(s.v, q.v), 6) DESC,
       |           CAST(s.vec_id AS VARCHAR)
       |  LIMIT $entryK),
       |adj AS (
       |  SELECT src, nbr FROM (
       |    SELECT CAST(a.vec_id AS VARCHAR) AS src,
       |           CAST(b.vec_id AS VARCHAR) AS nbr,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
       |                      CAST(b.vec_id AS VARCHAR)) AS rn
       |    FROM sigs a, sigs b
       |    WHERE a.vec_id <> b.vec_id AND (${bandEq("a", "b")})) t
       |  WHERE rn <= $m),
       |f0 AS (SELECT id FROM entries),
       |$frontier
       |SELECT CAST(s.vec_id AS VARCHAR) AS id,
       |       ROUND(list_cosine_similarity(s.v, q.v), 6) AS score
       |FROM sigs s, q
       |WHERE s.vec_id <> $queryVecId
       |  AND CAST(s.vec_id AS VARCHAR) IN (SELECT id FROM f$hops)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** Mirror of the BEAM-PRUNED deep-graph serving path
    * (Ann.searchKnnGraph with beam > 0): same build as [[knnGraphSql]]
    * but the adjacency keeps its stored rounded sims, entries carry
    * their exact scores, and each unrolled hop keeps only the top-`beam`
    * unvisited neighbors ranked by max(frontier_score * stored_sim)
    * (VARCHAR id tiebreak — the engine's String.valueOf ordering).
    * Products of 6-dp-rounded doubles are bit-identical across engines,
    * so the beam selection and the final exact rerank both hash-match.
    */
  def knnGraphBeamSql(queryVecId: Int, k: Int, entryK: Int, m: Int,
                      dim: Int, nbits: Int, bands: Int, seed: Long,
                      hops: Int, beam: Int): String = {
    val r = nbits / bands
    val bitExprs = lshBucketExpr(dim, nbits, seed)
    def bandEq(x: String, y: String) = (0 until bands).map(b =>
      s"${lshBandKey(s"$x.bucket", b, r)} = ${lshBandKey(s"$y.bucket", b, r)}")
      .mkString(" OR ")
    val hopCtes = (1 to hops).map { i =>
      s"""f$i AS (
         |  SELECT nbr AS id, approx AS score FROM (
         |    SELECT adj.nbr, MAX(f.score * adj.sim) AS approx
         |    FROM adj JOIN f${i - 1} f ON adj.src = f.id
         |    WHERE adj.nbr NOT IN (SELECT id FROM v${i - 1})
         |    GROUP BY adj.nbr)
         |  ORDER BY approx DESC, nbr LIMIT $beam),
         |v$i AS (SELECT id FROM v${i - 1} UNION SELECT id FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH sigs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         $bitExprs AS bucket
       |  FROM embeddings),
       |q AS (SELECT bucket, v FROM sigs WHERE vec_id = $queryVecId),
       |entries AS (
       |  SELECT CAST(s.vec_id AS VARCHAR) AS id,
       |         ROUND(list_cosine_similarity(s.v, q.v), 6) AS score
       |  FROM sigs s, q
       |  WHERE s.vec_id <> $queryVecId AND (${bandEq("s", "q")})
       |  ORDER BY score DESC, id
       |  LIMIT $entryK),
       |adj AS (
       |  SELECT src, nbr, sim FROM (
       |    SELECT CAST(a.vec_id AS VARCHAR) AS src,
       |           CAST(b.vec_id AS VARCHAR) AS nbr,
       |           ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
       |                      CAST(b.vec_id AS VARCHAR)) AS rn
       |    FROM sigs a, sigs b
       |    WHERE a.vec_id <> b.vec_id AND (${bandEq("a", "b")})) t
       |  WHERE rn <= $m),
       |f0 AS (SELECT id, score FROM entries),
       |v0 AS (SELECT id FROM entries),
       |$hopCtes
       |SELECT CAST(s.vec_id AS VARCHAR) AS id,
       |       ROUND(list_cosine_similarity(s.v, q.v), 6) AS score
       |FROM sigs s, q
       |WHERE s.vec_id <> $queryVecId
       |  AND CAST(s.vec_id AS VARCHAR) IN (SELECT id FROM v$hops)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** Mirror of the NN-DESCENT-refined graph pipeline (Ann.nnDescent +
    * the plain-frontier serve): the LSH-banded adjacency seeds round 0
    * (sims kept), each unrolled round composes 2-step neighbors through
    * the UNDIRECTED edge view, unions the standing edges, and keeps each
    * node's top-`m` by rounded cosine (VARCHAR id tiebreak) — then the
    * same entry/hop/rerank serve as [[knnGraphSql]] over the refined
    * adjacency. Every stage is deterministic, so the whole refined-graph
    * answer hash-matches.
    */
  def knnDescentSql(queryVecId: Int, k: Int, entryK: Int, m: Int,
                    dim: Int, nbits: Int, bands: Int, seed: Long,
                    hops: Int, rounds: Int): String = {
    val r = nbits / bands
    val bitExprs = lshBucketExpr(dim, nbits, seed)
    def bandEq(x: String, y: String) = (0 until bands).map(b =>
      s"${lshBandKey(s"$x.bucket", b, r)} = ${lshBandKey(s"$y.bucket", b, r)}")
      .mkString(" OR ")
    val descent = (1 to rounds).map { i =>
      s"""u$i AS (SELECT src, nbr FROM a${i - 1}
         |        UNION SELECT nbr AS src, src AS nbr FROM a${i - 1}),
         |c$i AS (SELECT x.src AS src, y.nbr AS nbr
         |        FROM u$i x JOIN u$i y ON x.nbr = y.src
         |        WHERE x.src <> y.nbr
         |        UNION SELECT src, nbr FROM a${i - 1}),
         |a$i AS (
         |  SELECT src, nbr, sim FROM (
         |    SELECT c.src, c.nbr,
         |           ROUND(list_cosine_similarity(sa.v, sb.v), 6) AS sim,
         |           row_number() OVER (PARTITION BY c.src
         |             ORDER BY ROUND(list_cosine_similarity(sa.v, sb.v), 6) DESC,
         |                      c.nbr) AS rn
         |    FROM c$i c
         |    JOIN sigs sa ON CAST(sa.vec_id AS VARCHAR) = c.src
         |    JOIN sigs sb ON CAST(sb.vec_id AS VARCHAR) = c.nbr) t
         |  WHERE rn <= $m)""".stripMargin
    }.mkString(",\n")
    val frontier = (1 to hops).map(i =>
      s"""f$i AS (SELECT id FROM f${i - 1}
         |        UNION
         |        SELECT adj.nbr FROM a$rounds adj JOIN f${i - 1} ON adj.src = f${i - 1}.id)""".stripMargin)
      .mkString(",\n")
    s"""WITH sigs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         $bitExprs AS bucket
       |  FROM embeddings),
       |q AS (SELECT bucket, v FROM sigs WHERE vec_id = $queryVecId),
       |entries AS (
       |  SELECT CAST(s.vec_id AS VARCHAR) AS id
       |  FROM sigs s, q
       |  WHERE s.vec_id <> $queryVecId AND (${bandEq("s", "q")})
       |  ORDER BY ROUND(list_cosine_similarity(s.v, q.v), 6) DESC,
       |           CAST(s.vec_id AS VARCHAR)
       |  LIMIT $entryK),
       |a0 AS (
       |  SELECT src, nbr, sim FROM (
       |    SELECT CAST(a.vec_id AS VARCHAR) AS src,
       |           CAST(b.vec_id AS VARCHAR) AS nbr,
       |           ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
       |                      CAST(b.vec_id AS VARCHAR)) AS rn
       |    FROM sigs a, sigs b
       |    WHERE a.vec_id <> b.vec_id AND (${bandEq("a", "b")})) t
       |  WHERE rn <= $m),
       |$descent,
       |f0 AS (SELECT id FROM entries),
       |$frontier
       |SELECT CAST(s.vec_id AS VARCHAR) AS id,
       |       ROUND(list_cosine_similarity(s.v, q.v), 6) AS score
       |FROM sigs s, q
       |WHERE s.vec_id <> $queryVecId
       |  AND CAST(s.vec_id AS VARCHAR) IN (SELECT id FROM f$hops)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** Mirror of the LAYERED (HNSW-style) serve
    * (Ann.entryLayer + Ann.searchKnnGraphLayered over the NN-DESCENT
    * graph): the sampleN smallest-seeded-hash nodes form the model-sized
    * upper layer, an EXACT all-pairs top-mUpper adjacency connects them,
    * the layer is scored in full and the best entryE nodes plus their
    * upper neighbors (HNSW's ef-seeding) seed the beam serve of
    * [[knnGraphBeamSql]] over the descent-refined base adjacency.
    */
  def hnswEntrySql(queryVecId: Int, k: Int, m: Int, dim: Int, nbits: Int,
                   bands: Int, seed: Long, rounds: Int, sampleN: Int,
                   mUpper: Int, entryE: Int, hops: Int, beam: Int): String = {
    val r = nbits / bands
    val bitExprs = lshBucketExpr(dim, nbits, seed)
    def bandEq(x: String, y: String) = (0 until bands).map(b =>
      s"${lshBandKey(s"$x.bucket", b, r)} = ${lshBandKey(s"$y.bucket", b, r)}")
      .mkString(" OR ")
    val descent = (1 to rounds).map { i =>
      s"""u$i AS MATERIALIZED (SELECT src, nbr FROM a${i - 1}
         |        UNION SELECT nbr AS src, src AS nbr FROM a${i - 1}),
         |c$i AS MATERIALIZED (SELECT x.src AS src, y.nbr AS nbr
         |        FROM u$i x JOIN u$i y ON x.nbr = y.src
         |        WHERE x.src <> y.nbr
         |        UNION SELECT src, nbr FROM a${i - 1}),
         |a$i AS MATERIALIZED (
         |  SELECT src, nbr, sim FROM (
         |    SELECT c.src, c.nbr,
         |           ROUND(list_cosine_similarity(sa.v, sb.v), 6) AS sim,
         |           row_number() OVER (PARTITION BY c.src
         |             ORDER BY ROUND(list_cosine_similarity(sa.v, sb.v), 6) DESC,
         |                      c.nbr) AS rn
         |    FROM c$i c
         |    JOIN sigs sa ON CAST(sa.vec_id AS VARCHAR) = c.src
         |    JOIN sigs sb ON CAST(sb.vec_id AS VARCHAR) = c.nbr) t
         |  WHERE rn <= $m)""".stripMargin
    }.mkString(",\n")
    val hopCtes = (1 to hops).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT nbr AS id, approx AS score FROM (
         |    SELECT adj.nbr, MAX(f.score * adj.sim) AS approx
         |    FROM a$rounds adj JOIN f${i - 1} f ON adj.src = f.id
         |    WHERE adj.nbr NOT IN (SELECT id FROM v${i - 1})
         |    GROUP BY adj.nbr)
         |  ORDER BY approx DESC, nbr LIMIT $beam),
         |v$i AS MATERIALIZED (SELECT id FROM v${i - 1} UNION SELECT id FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH sigs AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         $bitExprs AS bucket
       |  FROM embeddings),
       |q AS MATERIALIZED (SELECT bucket, v FROM sigs WHERE vec_id = $queryVecId),
       |a0 AS MATERIALIZED (
       |  SELECT src, nbr, sim FROM (
       |    SELECT CAST(a.vec_id AS VARCHAR) AS src,
       |           CAST(b.vec_id AS VARCHAR) AS nbr,
       |           ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
       |                      CAST(b.vec_id AS VARCHAR)) AS rn
       |    FROM sigs a, sigs b
       |    WHERE a.vec_id <> b.vec_id AND (${bandEq("a", "b")})) t
       |  WHERE rn <= $m),
       |$descent,
       |samp AS MATERIALIZED (
       |  SELECT vec_id, v, id FROM (
       |    SELECT vec_id, v, CAST(vec_id AS VARCHAR) AS id
       |    FROM sigs
       |    ORDER BY md5(CAST(vec_id AS VARCHAR) || '#hnsw$seed'),
       |             CAST(vec_id AS VARCHAR)
       |    LIMIT $sampleN)),
       |uadj AS MATERIALIZED (
       |  SELECT src, nbr, sim FROM (
       |    SELECT a.id AS src, b.id AS nbr,
       |           ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim,
       |           row_number() OVER (PARTITION BY a.id
       |             ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
       |                      b.id) AS rn
       |    FROM samp a, samp b
       |    WHERE a.vec_id <> b.vec_id) t
       |  WHERE rn <= $mUpper),
       |g AS MATERIALIZED (
       |  SELECT s.id FROM samp s, q
       |  ORDER BY ROUND(list_cosine_similarity(s.v, q.v), 6) DESC, s.id
       |  LIMIT $entryE),
       |f0 AS MATERIALIZED (
       |  SELECT s.id, ROUND(list_cosine_similarity(s.v, q.v), 6) AS score
       |  FROM samp s, q
       |  WHERE s.id IN (SELECT id FROM g)
       |     OR s.id IN (SELECT u.nbr FROM uadj u
       |                 JOIN g ON u.src = g.id)),
       |v0 AS MATERIALIZED (SELECT id FROM f0),
       |$hopCtes
       |SELECT CAST(s.vec_id AS VARCHAR) AS id,
       |       ROUND(list_cosine_similarity(s.v, q.v), 6) AS score
       |FROM sigs s, q
       |WHERE s.vec_id <> $queryVecId
       |  AND CAST(s.vec_id AS VARCHAR) IN (SELECT id FROM v$hops)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  def lshMultiprobeSql(queryVecId: Int, k: Int, dim: Int, nbits: Int,
                       bands: Int, seed: Long): String = {
    val r = nbits / bands
    val bitExprs = lshBucketExpr(dim, nbits, seed)
    val bandEq = (0 until bands).flatMap { b =>
      val sKey = s"CAST(${lshBandKey("s.bucket", b, r)} AS BIGINT)"
      val qKey = s"CAST(${lshBandKey("q.bucket", b, r)} AS BIGINT)"
      (s"$sKey = $qKey") +:
        (0 until r).map(j => s"$sKey = xor($qKey, ${1L << j})")
    }.mkString(" OR ")
    s"""WITH sigs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         $bitExprs AS bucket
       |  FROM embeddings),
       |q AS (SELECT bucket, v FROM sigs WHERE vec_id = $queryVecId)
       |SELECT CAST(s.vec_id AS VARCHAR) AS id,
       |       ROUND(list_cosine_similarity(s.v, q.v), 6) AS score
       |FROM sigs s, q
       |WHERE s.vec_id <> $queryVecId AND ($bandEq)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** dedup_embedding_lsh oracle: the near-dup embeddings corpus signed
    * under the same inlined hyperplane family as [[lshSql]], banded into
    * `bands` sub-signatures, candidates on exact band equality (a < b),
    * exact-cosine verify — Dedup.embeddingNearDupLsh arithmetic mirrored
    * stage by stage (dots accumulate in the kernel's sequential order).
    */
  def embeddingLshSql(threshold: Double, dim: Int, nbits: Int = 16,
                      bands: Int = 4, seed: Long = 42L): String = {
    val r = nbits / bands
    val bitExprs = lshBucketExpr(dim, nbits, seed)
    val bandSelects = (0 until bands).map(b =>
      s"SELECT vec_id, $b AS band, ${lshBandKey("bucket", b, r)} AS bandkey FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           UNION ALL
       |           SELECT vec_id + 100000,
       |                  list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.99)
       |           FROM embeddings WHERE vec_id % 5 = 0),
       |sigs AS (SELECT vec_id, v, $bitExprs AS bucket FROM c),
       |bands AS (
       |  $bandSelects),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bandkey = b.bandkey AND a.vec_id < b.vec_id)
       |SELECT * FROM (
       |  SELECT a_id, b_id, ROUND(list_cosine_similarity(ca.v, cb.v), 6) AS cosine
       |  FROM cands JOIN c ca ON ca.vec_id = a_id JOIN c cb ON cb.vec_id = b_id)
       |WHERE cosine >= $threshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** decontam_embedding oracle (Dedup.embeddingContaminated over the
    * planted near-dup construction: corpus = the embeddings table,
    * benchmark = the 0.99-scaled copies of vec_id % 5 = 0): both sides
    * sign under the same hyperplane chain as [[embeddingLshSql]],
    * candidates meet per (band, bandkey), verified hits dedup on the
    * (cid, bid, cosine) triple, then per-corpus-id max + count.
    */
  def embeddingDecontamSql(threshold: Double, dim: Int, nbits: Int = 16,
                           bands: Int = 4, seed: Long = 42L): String = {
    val r = nbits / bands
    val bitExprs = lshBucketExpr(dim, nbits, seed)
    def bandSelects(src: String) = (0 until bands).map(b =>
      s"SELECT vec_id, $b AS band, ${lshBandKey("bucket", b, r)} AS bandkey FROM $src")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bm AS (SELECT vec_id + 100000 AS vec_id,
       |              list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.99) AS v
       |       FROM embeddings WHERE vec_id % 5 = 0),
       |csigs AS (SELECT vec_id, v, $bitExprs AS bucket FROM c),
       |bsigs AS (SELECT vec_id, v, $bitExprs AS bucket FROM bm),
       |cbands AS (
       |  ${bandSelects("csigs")}),
       |bbands AS (
       |  ${bandSelects("bsigs")}),
       |hits AS (
       |  SELECT DISTINCT cb.vec_id AS cid, bb.vec_id AS bid,
       |         ROUND(list_cosine_similarity(cc.v, cm.v), 6) AS cosine
       |  FROM cbands cb
       |  JOIN bbands bb ON cb.band = bb.band AND cb.bandkey = bb.bandkey
       |  JOIN c cc ON cc.vec_id = cb.vec_id
       |  JOIN bm cm ON cm.vec_id = bb.vec_id
       |  WHERE ROUND(list_cosine_similarity(cc.v, cm.v), 6) >= $threshold)
       |SELECT cid AS id, MAX(cosine) AS max_cosine, COUNT(*) AS n_hits
       |FROM hits GROUP BY cid ORDER BY id""".stripMargin
  }

  /** contrastive_pairs oracle: the [[embeddingLshSql]] verified pairs as
    * POSITIVES, plus one deterministic NEGATIVE per anchor drawn from the
    * md5-ordered corpus sample (list literal indexed by the anchor's
    * domain-separated md5 bucket mod sampleSize); degenerate draws
    * filtered, duplicates collapsed — Search.contrastivePairs mirrored
    * stage by stage.
    */
  def contrastiveSql(threshold: Double, dim: Int, sampleSize: Int,
                     seed: Long, nbits: Int = 16, bands: Int = 4): String = {
    val inner = embeddingLshSql(threshold, dim, nbits, bands, seed)
    val idxExpr = "CAST(CAST(CAST(('0x' || substring(md5('neg|' || " +
      s"CAST(p.a_id AS VARCHAR) || '$seed'), 1, 15)) AS UBIGINT) AS BIGINT) " +
      s"% $sampleSize AS INTEGER) + 1"
    s"""WITH pairs AS (
       |  SELECT a_id, b_id FROM ($inner)),
       |corpus AS (SELECT vec_id FROM embeddings
       |           UNION ALL
       |           SELECT vec_id + 100000 FROM embeddings WHERE vec_id % 5 = 0),
       |samp AS (
       |  SELECT list(vec_id ORDER BY k, vec_id) AS s FROM (
       |    SELECT vec_id, md5(CAST(vec_id AS VARCHAR) || '$seed') AS k
       |    FROM corpus ORDER BY k, vec_id LIMIT $sampleSize)),
       |neg AS (
       |  SELECT DISTINCT p.a_id AS anchor, samp.s[$idxExpr] AS other
       |  FROM pairs p, samp
       |  WHERE samp.s[$idxExpr] <> p.a_id AND samp.s[$idxExpr] <> p.b_id)
       |SELECT anchor, other, label FROM (
       |  SELECT a_id AS anchor, b_id AS other, 'pos' AS label FROM pairs
       |  UNION ALL
       |  SELECT anchor, other, 'neg' AS label FROM neg)
       |ORDER BY label, anchor, other""".stripMargin
  }

  /** RollingHash64 (31x + c over SH0, mod 2^64) of an arbitrary VARCHAR
    * expression, as an UNSIGNED HUGEINT — compute it once in an inner CTE
    * and wrap the resulting column with [[signed64]] for the kernel's
    * signed BIGINT output. The fingerprint64 mirror, reusable over derived
    * text (e.g. the PII-scrubbed column).
    */
  def rollingHashUnsignedSql(textExpr: String): String =
    s"""list_reduce(
       |  list_concat([$Sh0::HUGEINT],
       |    list_transform(range(1, len($textExpr) + 1), i -> ascii(($textExpr)[i])::HUGEINT)),
       |  (acc, c) -> (31::HUGEINT * acc + c) % $M64::HUGEINT)""".stripMargin

  /** HUGEINT (mod-2^64) column expr -> Java signed long. */
  def signed64(expr: String): String =
    s"CAST(CASE WHEN $expr >= ${BigInt(1) << 63}::HUGEINT THEN $expr - $M64::HUGEINT ELSE $expr END AS BIGINT)"

  /** w=3 word-shingle hashes of the PLAIN documents table (no planted
    * dups) — the ShingleKernel w=3 arithmetic, shared by the repetition
    * and decontamination oracles.
    */
  /** w=3 ShingleKernel mirror over corpus CTE/table `src(doc_id, text)`:
    * emits `th`/`sh3a`/`sh3` with `sh3(doc_id, v)` = the ordered UBIGINT
    * shingle-hash list (polynomial combine + xorshift32, bit-equal to the
    * JVM kernel).
    */
  private def sh3Of(src: String): String = {
    val g2 = (Golden * Golden) % M64
    val c3 = (Sh0 * Golden % M64 * Golden % M64 * Golden) % M64
    s"""th AS (
       |  SELECT doc_id, list_transform(
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0),
       |    t -> $fnvOfT) AS th
       |  FROM $src),
       |sh3a AS (
       |  SELECT doc_id, list_transform(range(1, len(th) - 1), j ->
       |    CAST(($c3::HUGEINT + (${mulMod(g2, "th[j]")}) + (${mulMod(Golden, "th[j + 1]")}) + th[j + 2]) % $M64::HUGEINT AS UBIGINT)) AS v
       |  FROM th),
       |sh3 AS (SELECT doc_id, list_transform(v, u -> xor(u, u >> 32)) AS v FROM sh3a)""".stripMargin
  }

  private def docsSh3: String = sh3Of("documents")

  /** 1 - distinct/total over shingle list `v`, 6dp — the SQL twin of the
    * Spark-side repRatioOf; shared by the repetition and quality-filter
    * oracles so the rounding stays bit-identical.
    */
  private def repRatioSql(v: String): String =
    s"""CASE WHEN len($v) > 0
       |     THEN ROUND(1 - CAST(len(list_distinct($v)) AS DOUBLE) / len($v), 6)
       |     ELSE 0.0 END""".stripMargin

  /** doc_repetition oracle: per-doc duplicate-shingle fraction
    * (TextAnalysis.repetitionRatio).
    */
  def repetitionSql: String =
    s"""WITH $docsSh3,
       |sh AS (SELECT doc_id, COALESCE(v, []::UBIGINT[]) AS v FROM sh3)
       |SELECT doc_id,
       |       CAST(len(v) AS INTEGER) AS n_shingles,
       |       CAST(len(list_distinct(v)) AS INTEGER) AS n_distinct,
       |       ${repRatioSql("v")} AS rep_ratio
       |FROM sh ORDER BY doc_id""".stripMargin

  /** novelty_score oracle (TextAnalysis.noveltyScore): per-doc distinct
    * w=3 shingles -> corpus document frequencies -> fraction with
    * df = 1, 6dp.
    */
  def noveltySql: String =
    s"""WITH $docsSh3,
       |pd AS (SELECT doc_id, unnest(list_distinct(v)) AS h FROM sh3),
       |dfq AS (SELECT h, COUNT(*) AS df FROM pd GROUP BY h)
       |SELECT pd.doc_id,
       |       COUNT(*) AS n_distinct,
       |       CAST(SUM(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |       ROUND(CAST(SUM(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / COUNT(*), 6) AS novelty
       |FROM pd JOIN dfq USING (h)
       |GROUP BY pd.doc_id ORDER BY doc_id""".stripMargin

  /** quality_filter oracle: the Gopher-style composite rule
    * (TextAnalysis.gopherFilter) — token bounds, mean chars/token bounds,
    * repetition bound, verdict on the ROUNDED metrics like the Spark side.
    */
  def gopherSql(minTokens: Long, maxTokens: Long, minMeanLen: Double,
                maxMeanLen: Double, maxRep: Double): String =
    s"""WITH $docsSh3,
       |sh AS (SELECT doc_id, COALESCE(v, []::UBIGINT[]) AS v FROM sh3),
       |-- len(th) IS the whitespace token count (th = one fnv hash per
       |-- filtered token) — no need to re-tokenize the corpus
       |t AS (SELECT th.doc_id,
       |             CAST(len(th.th) AS BIGINT) AS n_tokens,
       |             CAST(len(d.text) AS DOUBLE) AS l
       |      FROM th JOIN documents d ON d.doc_id = th.doc_id),
       |m AS (SELECT t.doc_id, n_tokens,
       |             CASE WHEN n_tokens > 0 THEN ROUND(l / n_tokens, 6) ELSE 0.0 END AS mean_chars_per_token,
       |             ${repRatioSql("v")} AS rep_ratio
       |      FROM t JOIN sh ON sh.doc_id = t.doc_id)
       |SELECT doc_id, n_tokens, mean_chars_per_token, rep_ratio,
       |       (n_tokens >= $minTokens AND n_tokens <= $maxTokens
       |        AND mean_chars_per_token >= $minMeanLen
       |        AND mean_chars_per_token <= $maxMeanLen
       |        AND rep_ratio <= $maxRep) AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  /** decontam oracle: corpus docs (doc_id % mod <> 0) sharing ANY w=3
    * shingle hash with the benchmark subset (doc_id % mod = 0) —
    * Dedup.contaminatedDocs.
    */
  def decontamSql(mod: Int): String =
    s"""WITH $docsSh3,
       |bh AS (SELECT DISTINCT unnest(v) AS h FROM sh3 WHERE doc_id % $mod = 0),
       |ch AS (SELECT doc_id, unnest(v) AS h FROM sh3 WHERE doc_id % $mod <> 0)
       |SELECT DISTINCT ch.doc_id FROM ch JOIN bh USING (h)
       |ORDER BY doc_id""".stripMargin

  /** decontam_verdicts oracle: per-doc boolean — any shingle of the doc
    * present in the benchmark (`doc_id % mod = 0`) shingle set.
    */
  def decontamVerdictSql(mod: Int): String =
    s"""WITH $docsSh3,
       |bh AS (SELECT DISTINCT unnest(v) AS h FROM sh3 WHERE doc_id % $mod = 0),
       |bl AS (SELECT list(h) AS hs FROM bh)
       |SELECT doc_id,
       |       len(list_intersect(COALESCE(v, []::UBIGINT[]), bl.hs)) > 0 AS contaminated
       |FROM sh3, bl WHERE doc_id % $mod <> 0 ORDER BY doc_id""".stripMargin

  /** ann_ivf / ann_ivf_probe oracle: the FULL IVF pipeline mirror —
    * seeded init (nlist smallest md5(id||seed), Ann.fitCentroids), then
    * `maxIter` Lloyd's rounds of { argmin euclid assignment (first-min
    * tiebreak = lowest cluster, like array_position), centroid update
    * summing floor(x * 2^40) in HUGEINT and dividing back
    * (Ann.CentroidQuantScale — exact in both engines, order-independent) },
    * final assignment, nprobe nearest-centroid probe, exact-cosine rerank.
    * maxIter = 0 degenerates to the serving-path-only probe mirror.
    */
  private def euclidSql(a: String, b: String, dim: Int): String =
    s"sqrt(list_reduce(list_transform(range(1, ${dim + 1}), j -> ($a[j] - $b[j]) * ($a[j] - $b[j])), (x, y) -> x + y))"

  /** The Lloyd's CTE chain shared by [[ivfSql]] and [[ivfRefitSql]]:
    * `corpusSql` (any SELECT producing id VARCHAR, v DOUBLE[]) -> md5
    * seed-point init -> `maxIter` DECIMAL-quantized refinement rounds ->
    * the FINAL assignment CTE `asg{maxIter+1}` against `cents{maxIter}`.
    * Returns (chainText, finalAsgIndex).
    */
  private def ivfChain(corpusSql: String, dim: Int, nlist: Int,
                       maxIter: Int, seed: Long, sfx: String = ""): (String, Int) = {
    val s = graft.ops.Ann.CentroidQuantScale
    def asg(t: Int, cents: String): String =
      s"""asg$t$sfx AS (
         |  SELECT id, v, cluster FROM (
         |    SELECT e.id, e.v, c.cluster,
         |           ROW_NUMBER() OVER (PARTITION BY e.id
         |             ORDER BY ${euclidSql("e.v", "c.c", dim)}, c.cluster) AS rn
         |    FROM corpus$sfx e CROSS JOIN $cents c)
         |  WHERE rn = 1)""".stripMargin
    val iters = (1 to maxIter).map { t =>
      val prev = s"cents${t - 1}$sfx"
      s"""${asg(t, prev)},
         |sums$t$sfx AS (
         |  SELECT cluster, j AS d,
         |         SUM(CAST(floor(v[j] * $s) AS HUGEINT)) AS sm,
         |         COUNT(*) AS n
         |  FROM asg$t$sfx, range(1, ${dim + 1}) r(j) GROUP BY cluster, j),
         |cents$t$sfx AS (
         |  SELECT p.cluster, COALESCE(nc.c, p.c) AS c
         |  FROM $prev p LEFT JOIN (
         |    SELECT cluster, list(sm::DOUBLE / n / $s ORDER BY d) AS c
         |    FROM sums$t$sfx GROUP BY cluster) nc USING (cluster))""".stripMargin
    }
    val finalAsg = maxIter + 1
    val text =
      s"""corpus$sfx AS (
         |$corpusSql),
         |cents0$sfx AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY md5(id || '$seed'), id) - 1 AS cluster, v AS c
         |  FROM (SELECT id, v FROM corpus$sfx ORDER BY md5(id || '$seed'), id LIMIT $nlist)),
         |${(iters :+ asg(finalAsg, s"cents$maxIter$sfx")).mkString(",\n")}""".stripMargin
    (text, finalAsg)
  }

  /** `rawOrder = false` (the engine-side IVF gates): rank by the ROUNDED
    * score, the [[graft.ops.Ann.IvfIndex.search]] convention. `rawOrder =
    * true` (the store-served dsv2 search gates): rank by the RAW score
    * with id tiebreak — the [[graft.sources.CollectionStore]] heap's
    * convention — and round only for display, like the dsv2_parquet_search
    * oracle.
    */
  def ivfSql(queryVecId: Int, k: Int, dim: Int, nlist: Int, nprobe: Int,
             maxIter: Int, seed: Long, metric: String = "cosine",
             rawOrder: Boolean = false,
             // the corpus the fit ran over — override for a SUBSET fit
             // (e.g. a named hetero field populated on part of the ids)
             corpusSql: String =
               """  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
                 |  FROM embeddings""".stripMargin,
             // payload-filter mirror (rawOrder only): a predicate over
             // the embeddings row `fe` joined back by vec_id, applied
             // BEFORE ranking — WHERE-before-ORDER, the store's filtered
             // search semantics
             whereSql: String = ""): String = {
    val scoreFn = metric match {
      case "cosine" => "list_cosine_similarity"
      case "dot" => "list_inner_product"
      case other => throw new IllegalArgumentException(s"metric $other")
    }
    val (chain, finalAsg) = ivfChain(corpusSql, dim, nlist, maxIter, seed)
    val head =
      s"""WITH $chain,
         |q AS (SELECT v AS qv FROM corpus WHERE vec_id = $queryVecId),
         |probed AS (
         |  SELECT c.cluster FROM cents$maxIter c, q
         |  ORDER BY ${euclidSql("c.c", "q.qv", dim)}, c.cluster
         |  LIMIT $nprobe)""".stripMargin
    if (!rawOrder)
      s"""$head
         |SELECT t.id, ROUND($scoreFn(t.v, q.qv), 6) AS score
         |FROM asg$finalAsg t JOIN probed USING (cluster), q
         |ORDER BY score DESC, id LIMIT $k""".stripMargin
    else {
      val filterJoin =
        if (whereSql.isEmpty) ""
        else " JOIN embeddings fe ON fe.vec_id = CAST(t.id AS INTEGER)"
      val whereClause = if (whereSql.isEmpty) "" else s"\n  WHERE $whereSql"
      s"""$head,
         |top AS (
         |  SELECT t.id, $scoreFn(t.v, q.qv) AS s
         |  FROM asg$finalAsg t JOIN probed USING (cluster)$filterJoin, q$whereClause
         |  ORDER BY s DESC, t.id ASC LIMIT $k)
         |SELECT id, ROUND(s, 6) AS score FROM top ORDER BY score DESC, id""".stripMargin
    }
  }

  /** DSIR mirror (Dsir.importanceWeights): hashed unigram+bigram feature
    * buckets re-derived with the ShingleKernel arithmetic (w=1 and w=2
    * polynomial combines + xorshift32, Java-signed floorMod into
    * `buckets`), add-alpha bucket models over the target (doc_id % mod
    * = 0) and raw (rest) corpora, and the per-doc position-ordered fold
    * of ln-ratio weights, 6dp at the end — the engine's float-sum
    * convention. Smoothing denominators add the SAME Scala-rendered
    * `alpha*buckets` double literal the engine divides by.
    */
  def dsirSql(buckets: Int, alpha: Double, mod: Int): String = {
    val k1 = (Sh0 * Golden) % M64
    val c2 = (Sh0 * Golden % M64 * Golden) % M64
    val a = java.lang.Double.toString(alpha)
    val aB = java.lang.Double.toString(alpha * buckets)
    def bucketOf(u: String): String =
      s"(((${toSigned(u)} % $buckets) + $buckets) % $buckets)"
    def fbOf(sfx: String, src: String): String =
      s"""th$sfx AS MATERIALIZED (
         |  SELECT doc_id, list_transform(
         |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0),
         |    t -> $fnvOfT) AS th
         |  FROM $src),
         |fb$sfx AS MATERIALIZED (
         |  SELECT doc_id, list_concat(
         |    list_transform(
         |      list_transform(th, t -> CAST(($k1::HUGEINT + t) % $M64::HUGEINT AS UBIGINT)),
         |      u -> ${bucketOf("xor(u, u >> 32)")}),
         |    list_transform(
         |      list_transform(range(1, len(th)), j ->
         |        CAST(($c2::HUGEINT + (${mulMod(Golden, "th[j]")}) + th[j + 1]) % $M64::HUGEINT AS UBIGINT)),
         |      u -> ${bucketOf("xor(u, u >> 32)")})) AS fb
         |  FROM th$sfx)""".stripMargin
    s"""WITH tgtc AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % $mod = 0),
       |rawc AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % $mod <> 0),
       |${fbOf("t", "tgtc")},
       |${fbOf("r", "rawc")},
       |rawF AS MATERIALIZED (
       |  SELECT doc_id, unnest(fb) AS b, unnest(range(0, len(fb))) AS pos FROM fbr),
       |tgtF AS MATERIALIZED (SELECT unnest(fb) AS b FROM fbt),
       |rc AS MATERIALIZED (SELECT b, COUNT(*) AS rc FROM rawF GROUP BY b),
       |tc AS MATERIALIZED (SELECT b, COUNT(*) AS tc FROM tgtF GROUP BY b),
       |tot AS MATERIALIZED (SELECT
       |  (SELECT CAST(COUNT(*) AS DOUBLE) FROM rawF) AS rt,
       |  (SELECT CAST(COUNT(*) AS DOUBLE) FROM tgtF) AS tt),
       |w AS MATERIALIZED (
       |  SELECT b,
       |         ln((CAST(COALESCE(tc, 0) AS DOUBLE) + $a) / (tt + $aB)) -
       |         ln((CAST(COALESCE(rc, 0) AS DOUBLE) + $a) / (rt + $aB)) AS w
       |  FROM rc FULL OUTER JOIN tc USING (b), tot),
       |j AS (SELECT f.doc_id, f.pos, w.w FROM rawF f JOIN w USING (b)),
       |agg AS (SELECT doc_id, list(w ORDER BY pos) AS lw FROM j GROUP BY doc_id)
       |SELECT doc_id, CAST(len(lw) AS INTEGER) AS n_features,
       |       ROUND(list_reduce(list_concat([0.0], lw), (x, y) -> x + y), 6) AS logratio
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** nb_classify mirror (Classify.naiveBayes trained and scored on the
    * documents table with `lang` classes): the FULL chain — hashed
    * unigram+bigram feature buckets (same arithmetic as [[dsirSql]]),
    * per-(bucket, class) add-alpha weights over every observed bucket x
    * every class, per-(doc, class) position-ordered ln fold + ln prior,
    * 6dp round, then the argmax (score desc, class asc). Smoothing
    * denominators add the SAME Scala-rendered `alpha*buckets` double
    * literal the engine inlines.
    */
  def nbSql(buckets: Int, alpha: Double): String = {
    val k1 = (Sh0 * Golden) % M64
    val c2 = (Sh0 * Golden % M64 * Golden) % M64
    val a = java.lang.Double.toString(alpha)
    val aB = java.lang.Double.toString(alpha * buckets)
    def bucketOf(u: String): String =
      s"(((${toSigned(u)} % $buckets) + $buckets) % $buckets)"
    s"""WITH th AS MATERIALIZED (
       |  SELECT doc_id, lang, list_transform(
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0),
       |    t -> $fnvOfT) AS th
       |  FROM documents),
       |fb AS MATERIALIZED (
       |  SELECT doc_id, lang, list_concat(
       |    list_transform(
       |      list_transform(th, t -> CAST(($k1::HUGEINT + t) % $M64::HUGEINT AS UBIGINT)),
       |      u -> ${bucketOf("xor(u, u >> 32)")}),
       |    list_transform(
       |      list_transform(range(1, len(th)), j ->
       |        CAST(($c2::HUGEINT + (${mulMod(Golden, "th[j]")}) + th[j + 1]) % $M64::HUGEINT AS UBIGINT)),
       |      u -> ${bucketOf("xor(u, u >> 32)")})) AS fb
       |  FROM th),
       |f AS MATERIALIZED (
       |  SELECT doc_id, lang AS cls, unnest(fb) AS b,
       |         unnest(range(0, len(fb))) AS pos FROM fb),
       |tn AS MATERIALIZED (SELECT cls, COUNT(*) AS tn FROM f GROUP BY cls),
       |pri AS MATERIALIZED (
       |  SELECT lang AS cls,
       |         ln(CAST(COUNT(*) AS DOUBLE) /
       |            CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)) AS prior
       |  FROM documents GROUP BY lang),
       |cnt AS MATERIALIZED (SELECT b, cls, COUNT(*) AS c FROM f GROUP BY b, cls),
       |w AS MATERIALIZED (
       |  SELECT bk.b, tn.cls,
       |         ln((CAST(COALESCE(cnt.c, 0) AS DOUBLE) + $a) /
       |            (CAST(tn.tn AS DOUBLE) + $aB)) AS w
       |  FROM (SELECT DISTINCT b FROM f) bk
       |  CROSS JOIN tn
       |  LEFT JOIN cnt ON cnt.b = bk.b AND cnt.cls = tn.cls),
       |j AS (SELECT f.doc_id, f.pos, w.cls, w.w FROM f JOIN w ON f.b = w.b),
       |agg AS (SELECT doc_id, cls, list(w ORDER BY pos) AS lw
       |        FROM j GROUP BY doc_id, cls),
       |tot AS (
       |  SELECT agg.doc_id, agg.cls,
       |         ROUND(list_reduce(list_concat([0.0], lw), (x, y) -> x + y)
       |               + pri.prior, 6) AS score
       |  FROM agg JOIN pri ON pri.cls = agg.cls),
       |rk AS (SELECT *, row_number() OVER
       |         (PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
       |       FROM tot)
       |SELECT doc_id, cls AS pred, score FROM rk WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** bigram_logprob mirror (TextAnalysis.bigramLogProb): add-alpha
    * smoothed bigram LM with head-count denominators and a corpus-vocab
    * smoothing term, per-doc position-ordered ln fold, 6dp mean.
    */
  def bigramLmSql(alpha: Double): String =
    s"""${bigramLmChain(alpha)}
       |SELECT doc_id, CAST(len(lp) AS INTEGER) AS n_bigrams,
       |       ROUND(list_reduce(list_concat([0.0], lp), (x, y) -> x + y) / len(lp), 6) AS avg_logprob
       |FROM agg ORDER BY doc_id""".stripMargin

  /** The fluency FILTER over the same model: docs whose rounded mean
    * bigram log-probability clears `threshold`, with the source joined
    * back — chain text shared with [[bigramLmSql]] so both gates score
    * with one model definition.
    */
  def bigramLmFilterSql(alpha: Double, threshold: Double): String =
    s"""${bigramLmChain(alpha)},
       |sc AS (
       |  SELECT doc_id,
       |         ROUND(list_reduce(list_concat([0.0], lp), (x, y) -> x + y) / len(lp), 6) AS avg_logprob
       |  FROM agg)
       |SELECT sc.doc_id, d.source, sc.avg_logprob
       |FROM sc JOIN documents d USING (doc_id)
       |WHERE sc.avg_logprob >= ${java.lang.Double.toString(threshold)}
       |ORDER BY sc.doc_id""".stripMargin

  /** Held-out LM eval mirror: model CTEs over the train split, LEFT
    * joins + COALESCE(count, 0) for unseen heads/bigrams — the exact
    * add-alpha floor the engine's left-join scoring produces.
    */
  def bigramLmHoldoutSql(alpha: Double, modelPred: String,
                         scorePred: String): String = {
    val a = java.lang.Double.toString(alpha)
    s"""WITH tkm AS MATERIALIZED (
       |  SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts
       |  FROM documents WHERE $modelPred),
       |bim AS MATERIALIZED (
       |  SELECT ts[i] AS w1, ts[i + 1] AS w2
       |  FROM tkm, UNNEST(range(1, len(ts))) AS u(i)),
       |heads AS MATERIALIZED (SELECT w1, COUNT(*) AS c1 FROM bim GROUP BY w1),
       |big AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c2 FROM bim GROUP BY w1, w2),
       |v AS MATERIALIZED (
       |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vv
       |  FROM (SELECT unnest(ts) AS t FROM tkm)),
       |tks AS MATERIALIZED (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts
       |  FROM documents WHERE $scorePred),
       |bis AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM tks, UNNEST(range(1, len(ts))) AS u(i)),
       |j AS (
       |  SELECT bis.doc_id, bis.pos,
       |         ln((CAST(COALESCE(big.c2, 0) AS DOUBLE) + $a) /
       |            (CAST(COALESCE(heads.c1, 0) AS DOUBLE) + ($a * v.vv))) AS logp
       |  FROM bis
       |  LEFT JOIN big USING (w1, w2)
       |  LEFT JOIN heads USING (w1), v),
       |agg AS (SELECT doc_id, list(logp ORDER BY pos) AS lp FROM j GROUP BY doc_id)
       |SELECT doc_id, CAST(len(lp) AS INTEGER) AS n_bigrams,
       |       ROUND(list_reduce(list_concat([0.0], lp), (x, y) -> x + y) / len(lp), 6) AS avg_logprob
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  private def bigramLmChain(alpha: Double): String = {
    val a = java.lang.Double.toString(alpha)
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ts
       |  FROM documents),
       |bi AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM tk, UNNEST(range(1, len(ts))) AS u(i)),
       |heads AS MATERIALIZED (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
       |big AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
       |v AS MATERIALIZED (
       |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vv
       |  FROM (SELECT unnest(ts) AS t FROM tk)),
       |j AS (
       |  SELECT bi.doc_id, bi.pos,
       |         ln((CAST(big.c2 AS DOUBLE) + $a) /
       |            (CAST(heads.c1 AS DOUBLE) + ($a * v.vv))) AS logp
       |  FROM bi
       |  JOIN big USING (w1, w2)
       |  JOIN heads USING (w1), v),
       |agg AS (SELECT doc_id, list(logp ORDER BY pos) AS lp FROM j GROUP BY doc_id)""".stripMargin
  }

  /** BPE training mirror: the full Sennrich loop UNROLLED — per merge
    * step, a weighted adjacent-pair count, the deterministic argmax
    * (count DESC, pair ascending), and the greedy left-to-right merge
    * re-derived with run windows (consecutive match positions — only
    * possible for self-pairs — merge at even offsets within their run,
    * exactly the engine's sequential fold). `trace = true` returns the
    * chosen merge table (the model); otherwise the top-`vocabTop` final
    * word segmentations.
    */
  private def bpeChain(numMerges: Int): String = {
    val base =
      """words AS MATERIALIZED (
        |  SELECT t AS word, COUNT(*) AS cnt
        |  FROM (SELECT unnest(list_filter(
        |          string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS t
        |        FROM documents)
        |  GROUP BY t),
        |syms0 AS MATERIALIZED (
        |  SELECT word, cnt,
        |         list_concat(
        |           list_transform(range(1, length(word)+1), i -> word[i]),
        |           ['</w>']) AS s
        |  FROM words)""".stripMargin
    val iters = (1 to numMerges).map { t =>
      val p = t - 1
      s"""pairs$t AS MATERIALIZED (
         |  SELECT s[i] AS x, s[i+1] AS y, SUM(cnt) AS c
         |  FROM syms$p, UNNEST(range(1, len(s))) AS u(i)
         |  GROUP BY x, y),
         |best$t AS MATERIALIZED (SELECT x, y, c FROM pairs$t ORDER BY c DESC, x ASC, y ASC LIMIT 1),
         |m$t AS MATERIALIZED (
         |  SELECT w.word, u.i,
         |         ROW_NUMBER() OVER (PARTITION BY w.word ORDER BY u.i) AS rn
         |  FROM syms$p w, UNNEST(range(1, len(s))) AS u(i), best$t b
         |  WHERE s[i] = b.x AND s[i+1] = b.y),
         |sel$t AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i,
         |           ROW_NUMBER() OVER (PARTITION BY word, i - rn ORDER BY i) AS k
         |    FROM m$t)
         |  WHERE (k - 1) % 2 = 0),
         |syms$t AS MATERIALIZED (
         |  SELECT q.word, q.cnt,
         |         list(CASE WHEN s1.i IS NOT NULL THEN q.cur || q.nxt
         |                   ELSE q.cur END ORDER BY q.i)
         |           FILTER (WHERE s0.i IS NULL) AS s
         |  FROM (SELECT w.word, w.cnt, u.i, w.s[u.i] AS cur, w.s[u.i+1] AS nxt
         |        FROM syms$p w, UNNEST(range(1, len(s)+1)) AS u(i)) q
         |  LEFT JOIN sel$t s1 ON s1.word = q.word AND s1.i = q.i
         |  LEFT JOIN sel$t s0 ON s0.word = q.word AND s0.i = q.i - 1
         |  GROUP BY q.word, q.cnt)""".stripMargin
    }
    (base +: iters).mkString(",\n")
  }

  def bpeSql(numMerges: Int, trace: Boolean, vocabTop: Int = 30): String = {
    val chain = bpeChain(numMerges)
    if (trace) {
      val rows = (1 to numMerges).map(t =>
        s"SELECT $t AS step, x AS merge_left, y AS merge_right, " +
          s"CAST(c AS BIGINT) AS pair_count FROM best$t")
      s"""WITH $chain
         |${rows.mkString("\nUNION ALL ")}
         |ORDER BY step""".stripMargin
    } else
      s"""WITH $chain
         |SELECT word, cnt, list_aggr(s, 'string_agg', ' ') AS segmented
         |FROM syms$numMerges
         |ORDER BY cnt DESC, word ASC LIMIT $vocabTop""".stripMargin
  }

  /** bpe_encode oracle (Bpe.subwordCountTrained): the full training
    * chain re-derives the merges AND each distinct word's final
    * segmentation; a doc's token count is then the sum of its words'
    * segment lengths — identical to the engine's map-side greedy fold
    * because both apply the same merges in the same order per word.
    */
  def bpeEncodeSql(numMerges: Int): String =
    s"""WITH ${bpeChain(numMerges)},
       |w AS (SELECT doc_id, unnest(list_filter(
       |        string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS word
       |      FROM documents)
       |SELECT w.doc_id, CAST(SUM(len(s.s)) AS BIGINT) AS n_bpe_tokens
       |FROM w JOIN syms$numMerges s ON s.word = w.word
       |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin

  /** SemDeDup oracle: the [[ivfChain]] re-derives the engine's k-means
    * (same md5 seed-point init, same DECIMAL-quantized updates, same
    * first-min tiebreak), over the SAME planted-near-dup corpus as the
    * dedup_embedding gates; pairs then meet only inside a cluster and
    * compare by rounded cosine. `survivors = true` adds the paper's
    * keep-outliers policy: rounded centroid-similarity comparison, id
    * tiebreak, greedy pairwise drop — every comparison over values both
    * engines compute identically.
    */
  def semanticSql(threshold: Double, dim: Int, nlist: Int, maxIter: Int,
                  seed: Long, survivors: Boolean = false): String = {
    val corpus =
      """  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(vec_id + 100000 AS VARCHAR) AS id,
        |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.99)
        |  FROM embeddings WHERE vec_id % 5 = 0""".stripMargin
    val (chain, finalAsg) = ivfChain(corpus, dim, nlist, maxIter, seed)
    val t = java.lang.Double.toString(threshold)
    if (!survivors)
      s"""WITH $chain,
         |num AS (SELECT c.vec_id, a.v, a.cluster
         |        FROM asg$finalAsg a JOIN corpus c USING (id))
         |SELECT CAST(a.cluster AS INTEGER) AS cluster,
         |       a.vec_id AS a_id, b.vec_id AS b_id,
         |       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
         |FROM num a JOIN num b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= $t
         |ORDER BY a_id, b_id""".stripMargin
    else
      s"""WITH $chain,
         |tagged AS (
         |  SELECT c.vec_id, a.v, a.cluster,
         |         ROUND(list_cosine_similarity(a.v, ct.c), 6) AS csim
         |  FROM asg$finalAsg a JOIN corpus c USING (id)
         |  JOIN cents$maxIter ct ON a.cluster = ct.cluster),
         |drops AS (
         |  SELECT DISTINCT CASE WHEN a.csim > b.csim THEN a.vec_id
         |                       ELSE b.vec_id END AS vec_id
         |  FROM tagged a JOIN tagged b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= $t)
         |SELECT t.vec_id, CAST(t.cluster AS INTEGER) AS cluster, t.csim
         |FROM tagged t
         |WHERE t.vec_id NOT IN (SELECT vec_id FROM drops)
         |ORDER BY t.vec_id""".stripMargin
  }

  /** cluster_sample oracle (Search.clusterBalancedSample over the
    * dedup_semantic coarse quantizer): the [[semanticSql]] k-means chain
    * re-derived, then k rows per cluster by the md5 permutation.
    */
  def clusterSampleSql(dim: Int, nlist: Int, maxIter: Int, seed: Long,
                       k: Int, sampleSeed: Long): String = {
    val corpus =
      """  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(vec_id + 100000 AS VARCHAR) AS id,
        |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.99)
        |  FROM embeddings WHERE vec_id % 5 = 0""".stripMargin
    val (chain, finalAsg) = ivfChain(corpus, dim, nlist, maxIter, seed)
    s"""WITH $chain,
       |num AS (SELECT c.vec_id, a.cluster
       |        FROM asg$finalAsg a JOIN corpus c USING (id)),
       |rk AS (SELECT vec_id, cluster, row_number() OVER (
       |         PARTITION BY cluster
       |         ORDER BY md5(CAST(vec_id AS VARCHAR) || '$sampleSeed'), vec_id) AS rn
       |       FROM num)
       |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster
       |FROM rk WHERE rn <= $k ORDER BY vec_id""".stripMargin
  }

  /** mmr oracle: the greedy maximal-marginal-relevance selection UNROLLED
    * as k chained one-row CTEs — step t picks argmax of
    * lambda*rel - (1-lambda)*greatest(sim to steps 1..t-1), ties by id.
    * The lambda literals are rendered from the SAME Scala doubles the
    * engine multiplies with (including the 1-lambda rounding error), so
    * every comparison is over identical IEEE values.
    */
  def mmrSql(queryVecId: Int, k: Int, candidateK: Int, lambda: Double): String = {
    require(k >= 1)
    val l = java.lang.Double.toString(lambda)
    val m = java.lang.Double.toString(1 - lambda)
    val steps = (2 to k).map { t =>
      val sims = (1 until t).map(i =>
        s"list_cosine_similarity(c.v, (SELECT v FROM cand WHERE id = (SELECT id FROM s$i)))")
      val taken = (1 until t).map(i => s"SELECT id FROM s$i").mkString(" UNION ALL ")
      s"""s$t AS (
         |  SELECT id, $l * rel - $m * greatest(${sims.mkString(", ")}) AS mmr
         |  FROM cand c WHERE id NOT IN ($taken)
         |  ORDER BY mmr DESC, id LIMIT 1)""".stripMargin
    }
    val out = (1 to k).map(t => s"SELECT $t AS rank, id, ROUND(mmr, 6) AS mmr FROM s$t")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = $queryVecId),
       |cand AS (
       |  SELECT CAST(e.vec_id AS VARCHAR) AS id, CAST(e.embedding AS DOUBLE[]) AS v,
       |         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> $queryVecId
       |  ORDER BY rel DESC, id LIMIT $candidateK),
       |s1 AS (SELECT id, rel AS mmr FROM cand ORDER BY rel DESC, id LIMIT 1),
       |${steps.mkString(",\n")}
       |$out
       |ORDER BY rank""".stripMargin
  }

  /** ann_ivfbq oracle: the maxIter=0 coarse chain prunes to the nprobe
    * probed clusters, the candidate page is the per-dimension
    * sign-mismatch count (= the engine's packed-word Hamming distance),
    * the rerank is exact cosine over the candidate page. Mirrors every
    * stage — no margin assumption.
    */
  def ivfBqSql(queryVecId: Int, k: Int, candidateK: Int, dim: Int,
               nlist: Int, nprobe: Int, seed: Long): String = {
    val (chain, finalAsg) = ivfChain(
      """  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings""".stripMargin,
      dim, nlist, 0, seed)
    s"""WITH $chain,
       |q AS (SELECT v AS qv FROM corpus WHERE vec_id = $queryVecId),
       |probed AS (
       |  SELECT c.cluster FROM cents0 c, q
       |  ORDER BY ${euclidSql("c.c", "q.qv", dim)}, c.cluster
       |  LIMIT $nprobe),
       |cand AS (
       |  SELECT t.id, t.v,
       |         len(list_filter(range(1, ${dim + 1}),
       |             i -> (t.v[i] > 0) <> (q.qv[i] > 0))) AS ham
       |  FROM asg$finalAsg t JOIN probed USING (cluster), q
       |  ORDER BY ham ASC, id ASC LIMIT $candidateK)
       |SELECT cand.id, ROUND(list_cosine_similarity(cand.v, q.qv), 6) AS score
       |FROM cand, q
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** ann_ivf_refit oracle: the index-maintenance REFIT — the corpus plus
    * a DRIFTED cohort (every vec_id % 3 = 0 re-embedded, shifted +1.5 per
    * dimension under a fresh 'd'-prefixed id) is refit from scratch
    * through the same md5-init + DECIMAL-quantized Lloyd's chain, and
    * every point (old and drifted) reassigns to the refit centroids.
    */
  def ivfRefitSql(dim: Int, nlist: Int, maxIter: Int, seed: Long): String = {
    val (chain, finalAsg) = ivfChain(
      """  SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT 'd' || CAST(vec_id AS VARCHAR) AS id,
        |         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 1.5) AS v
        |  FROM embeddings WHERE vec_id % 3 = 0""".stripMargin,
      dim, nlist, maxIter, seed)
    s"""WITH $chain
       |SELECT id, CAST(cluster AS INTEGER) AS cluster
       |FROM asg$finalAsg ORDER BY id""".stripMargin
  }

  /** ann_ivf_batch oracle: per-query [[ivfSql]] mirrors unioned with the
    * query id stamped on — the batched serving path must return, for
    * every query, exactly what the single-query pruned path returns.
    */
  def ivfBatchSql(queryVecIds: Seq[Int], k: Int, dim: Int, nlist: Int,
                  nprobe: Int, maxIter: Int, seed: Long): String =
    queryVecIds.map(q =>
      s"SELECT $q AS query_id, t.* FROM (\n${ivfSql(q, k, dim, nlist, nprobe, maxIter, seed)}\n) t")
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id, score DESC, id")

  /** ann_recall_eval oracle (Ann.recallAtK): both rankings re-derived —
    * exact brute force over the corpus and the IVF probe path from the
    * same ivfChain — then per-query overlap/k.
    */
  def recallEvalSql(queryMod: Int, queryRem: Int, k: Int, dim: Int,
                    nlist: Int, nprobe: Int, maxIter: Int,
                    seed: Long): String = {
    val (chain, finalAsg) = ivfChain(
      """  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings""".stripMargin,
      dim, nlist, maxIter, seed)
    s"""WITH $chain,
       |q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, v AS qv
       |      FROM corpus WHERE vec_id % $queryMod = $queryRem),
       |exact AS (
       |  SELECT query_id, id FROM (
       |    SELECT q.query_id, t.id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ROUND(list_cosine_similarity(t.v, q.qv), 6) DESC, t.id) AS rn
       |    FROM corpus t, q) WHERE rn <= $k),
       |probed AS (
       |  SELECT query_id, cluster FROM (
       |    SELECT q.query_id, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ${euclidSql("c.c", "q.qv", dim)}, c.cluster) AS rn
       |    FROM cents$maxIter c, q) WHERE rn <= $nprobe),
       |approx AS (
       |  SELECT query_id, id FROM (
       |    SELECT p.query_id, t.id,
       |           ROW_NUMBER() OVER (PARTITION BY p.query_id
       |             ORDER BY ROUND(list_cosine_similarity(t.v, q.qv), 6) DESC, t.id) AS rn
       |    FROM asg$finalAsg t JOIN probed p USING (cluster)
       |         JOIN q ON q.query_id = p.query_id)
       |  WHERE rn <= $k)
       |SELECT e.query_id,
       |       ROUND(CAST(SUM(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $k.0, 6) AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON a.query_id = e.query_id AND a.id = e.id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  /** ann_ivf_assign oracle: the maxIter=0 seed centroids (same md5
    * permutation init as [[ivfSql]]) and ONE argmin-euclid assignment of
    * the full corpus — the incremental-maintenance path's arithmetic,
    * mirrored standalone (first-min tiebreak = lowest cluster, matching
    * array_position).
    */
  def ivfAssignSql(dim: Int, nlist: Int, seed: Long): String = {
    def euclid(a: String, b: String): String =
      s"sqrt(list_reduce(list_transform(range(1, ${dim + 1}), j -> ($a[j] - $b[j]) * ($a[j] - $b[j])), (x, y) -> x + y))"
    s"""WITH corpus AS (
       |  SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |cents0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY md5(id || '$seed'), id) - 1 AS cluster, v AS c
       |  FROM (SELECT id, v FROM corpus ORDER BY md5(id || '$seed'), id LIMIT $nlist))
       |SELECT id, CAST(cluster AS INTEGER) AS cluster FROM (
       |  SELECT e.id, c.cluster,
       |         ROW_NUMBER() OVER (PARTITION BY e.id
       |           ORDER BY ${euclid("e.v", "c.c")}, c.cluster) AS rn
       |  FROM corpus e CROSS JOIN cents0 c)
       |WHERE rn = 1 ORDER BY id""".stripMargin
  }

  /** line_dedup oracle: the C4-style line-level dedup composition — the
    * line-structured corpus (8-token lines, exact-dup docs planted at
    * +1000000, a boilerplate line appended to doc_id % 4 = 0), first
    * occurrence per line fingerprint (rolling-hash mirror) by (doc, pos),
    * documents reassembled from kept lines in order, output as kept-count
    * + fingerprint of the rebuilt text.
    */
  /** The line-structured corpus shared by the line-level oracles: the
    * exact-dup base rebuilt as 8-token lines with [[graft.SparkEntry]]'s
    * BoilerLine appended to doc_id % 4 == 0 — CTEs `base`..`lined`.
    */
  private def lineCorpusCtes(boiler: String): String =
    s"""base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
       |tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks FROM base),
       |lt AS (SELECT doc_id,
       |         list_transform(range(0, greatest(CAST(ceil(len(toks) / 8.0) AS INTEGER), 1)),
       |                        g -> array_to_string(toks[g * 8 + 1 : g * 8 + 8], ' ')) AS ll
       |       FROM tok),
       |lined AS (SELECT doc_id,
       |            CASE WHEN doc_id % 4 = 0
       |                 THEN array_to_string(ll, chr(10)) || chr(10) || '$boiler'
       |                 ELSE array_to_string(ll, chr(10)) END AS text
       |          FROM lt)""".stripMargin

  /** [[lineCorpusCtes]] plus the line-rules DECORATION (mirror of
    * SparkEntry.decoratedLineDocs): bullets on even lines of
    * doc_id % 5 == 0, '...' on every 4th line of doc_id % 3 == 0, first
    * line re-appended for doc_id % 6 == 0. Ends with `dls(doc_id, ls)`.
    */
  private def decoratedLineCtes(boiler: String): String =
    s"""${lineCorpusCtes(boiler)},
       |dl AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
       |dec0 AS (SELECT doc_id, list_transform(range(0, len(ls)), i ->
       |           (CASE WHEN doc_id % 5 = 0 AND i % 2 = 0 THEN '- ' || ls[i + 1] ELSE ls[i + 1] END) ||
       |           (CASE WHEN doc_id % 3 = 0 AND i % 4 = 0 THEN '...' ELSE '' END)) AS ls
       |         FROM dl),
       |dtxt AS (SELECT doc_id, CASE WHEN doc_id % 6 = 0
       |                 THEN array_to_string(ls, chr(10)) || chr(10) || ls[1]
       |                 ELSE array_to_string(ls, chr(10)) END AS text FROM dec0),
       |dls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM dtxt)""".stripMargin

  /** line_rules oracle: Gopher's duplicate/bullet/ellipsis line fractions
    * (TextAnalysis.gopherLineRules) over the decorated line corpus; keep
    * compares the ROUNDED fractions, like the engine.
    */
  def lineRulesSql(boiler: String, maxDupLine: Double = 0.3,
                   maxBullet: Double = 0.9,
                   maxEllipsis: Double = 0.3): String =
    s"""WITH ${decoratedLineCtes(boiler)},
       |fr AS (SELECT doc_id, CAST(len(ls) AS INTEGER) AS n_lines,
       |         ROUND(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls), 6) AS dup_line_frac,
       |         ROUND(CAST(len(list_filter(ls, l -> starts_with(l, '- ') OR starts_with(l, '* '))) AS DOUBLE) / len(ls), 6) AS bullet_frac,
       |         ROUND(CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE) / len(ls), 6) AS ellipsis_frac
       |       FROM dls)
       |SELECT doc_id, n_lines, dup_line_frac, bullet_frac, ellipsis_frac,
       |       dup_line_frac <= $maxDupLine AND bullet_frac <= $maxBullet
       |         AND ellipsis_frac <= $maxEllipsis AS keep
       |FROM fr ORDER BY doc_id""".stripMargin

  /** line_dedup_doc oracle: within-doc first-occurrence line dedup
    * (TextAnalysis.dedupLinesWithinDoc) — kept = lines at their own
    * first-position index, rebuilt text fingerprinted.
    */
  def lineDedupDocSql(boiler: String): String =
    s"""WITH ${decoratedLineCtes(boiler)},
       |k AS (SELECT doc_id,
       |        list_transform(
       |          list_filter(range(0, len(ls)), i -> list_position(ls, ls[i + 1]) = i + 1),
       |          i -> ls[i + 1]) AS kept
       |      FROM dls),
       |kt AS (SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept_lines,
       |              array_to_string(kept, chr(10)) AS kt FROM k),
       |fp0 AS (SELECT doc_id, n_kept_lines, ${rollingHashUnsignedSql("kt")} AS hu FROM kt)
       |SELECT doc_id, n_kept_lines, ${signed64("hu")} AS text_fp
       |FROM fp0 ORDER BY doc_id""".stripMargin

  def lineDedupSql(boiler: String): String = {
    val lineFp = rollingHashUnsignedSql("line")
    s"""WITH ${lineCorpusCtes(boiler)},
       |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
       |l AS (SELECT doc_id, unnest(ls) AS line, unnest(range(0, len(ls))) AS pos FROM l0),
       |f AS (SELECT doc_id, line, pos, $lineFp AS fp FROM l),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM f),
       |k AS (SELECT doc_id, COUNT(*) AS n_kept,
       |             string_agg(line, chr(10) ORDER BY pos) AS txt
       |      FROM r WHERE rn = 1 GROUP BY doc_id)
       |SELECT b.doc_id, COALESCE(k.n_kept, 0) AS n_kept,
       |       ${signed64(rollingHashUnsignedSql("COALESCE(k.txt, '')"))} AS text_fp
       |FROM (SELECT doc_id FROM base) b LEFT JOIN k USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** ann_pq oracle: the FULL product-quantization pipeline mirror — per
    * subspace, the same md5-init + DECIMAL-quantized Lloyd's chain as
    * [[ivfSql]] (suffixed `_s{m}`, run on the sliced corpus; the seed
    * order keys on the unsliced id so all subspaces seed from the same
    * rows, like Pq.fit), then codes = per-subspace argmin assignment, ADC
    * table = exact subspace dots of the query against each codebook
    * centroid (list_reduce, the kernels' sequential order), approximate
    * score = the m table lookups summed left-to-right, candidateK cut by
    * (approx DESC, id), exact-dot rerank of the survivors.
    */
  def pqSql(queryVecId: Int, k: Int, candidateK: Int, dim: Int, m: Int,
            ksub: Int, maxIter: Int, seed: Long): String = {
    require(dim % m == 0)
    val sub = dim / m
    def dotSql(a: String, b: String, d: Int): String =
      s"list_reduce(list_transform(range(1, ${d + 1}), j -> ($a[j]) * ($b[j])), (x, y) -> x + y)"
    val chains = (0 until m).map { mi =>
      val lo = mi * sub + 1
      ivfChain(
        s"  SELECT id, list_transform(range($lo, ${lo + sub}), j -> v[j]) AS v FROM base",
        sub, ksub, maxIter, seed, sfx = s"_s$mi")
    }
    val finalAsg = chains.head._2
    val qs = (0 until m).map { mi =>
      val lo = mi * sub + 1
      s"qs$mi AS (SELECT list_transform(range($lo, ${lo + sub}), j -> v[j]) AS v FROM q)"
    }
    val adcs = (0 until m).map { mi =>
      s"""adc$mi AS (
         |  SELECT c.cluster, ${dotSql("c.c", "s.v", sub)} AS t
         |  FROM cents$maxIter${s"_s$mi"} c, qs$mi s)""".stripMargin
    }
    val asgJoins = (1 until m)
      .map(mi => s"JOIN asg$finalAsg${s"_s$mi"} a$mi USING (id)").mkString(" ")
    val adcJoins = (0 until m)
      .map(mi => s"JOIN adc$mi ON adc$mi.cluster = a$mi.cluster").mkString(" ")
    val approxExpr = (1 until m).foldLeft("adc0.t")((acc, mi) => s"($acc + adc$mi.t)")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |${chains.map(_._1).mkString(",\n")},
       |q AS (SELECT v FROM base WHERE vec_id = $queryVecId),
       |${qs.mkString(",\n")},
       |${adcs.mkString(",\n")},
       |approx AS (
       |  SELECT a0.id, $approxExpr AS approx
       |  FROM asg$finalAsg${"_s0"} a0 $asgJoins $adcJoins),
       |cand AS (SELECT id FROM approx ORDER BY approx DESC, id LIMIT $candidateK)
       |SELECT b.id, ROUND(${dotSql("b.v", "q.v", dim)}, 6) AS score
       |FROM base b JOIN cand USING (id), q
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** ann_ivfpq oracle: [[pqSql]]'s codebook/code/ADC mirror composed with
    * the maxIter=0 IVF coarse quantizer (suffix `_ivf`) — candidates rank
    * by ADC only inside the `nprobe` clusters nearest the query, then the
    * exact-dot rerank of the candidateK survivors.
    */
  def ivfPqSql(queryVecId: Int, k: Int, candidateK: Int, dim: Int, m: Int,
               ksub: Int, pqMaxIter: Int, nlist: Int, nprobe: Int,
               seed: Long): String = {
    require(dim % m == 0)
    val sub = dim / m
    def dotSql(a: String, b: String, d: Int): String =
      s"list_reduce(list_transform(range(1, ${d + 1}), j -> ($a[j]) * ($b[j])), (x, y) -> x + y)"
    val chains = (0 until m).map { mi =>
      val lo = mi * sub + 1
      ivfChain(
        s"  SELECT id, list_transform(range($lo, ${lo + sub}), j -> v[j]) AS v FROM base",
        sub, ksub, pqMaxIter, seed, sfx = s"_s$mi")
    }
    val finalAsg = chains.head._2
    val (ivfChainText, ivfFinalAsg) = ivfChain(
      "  SELECT id, v FROM base", dim, nlist, 0, seed, sfx = "_ivf")
    val qs = (0 until m).map { mi =>
      val lo = mi * sub + 1
      s"qs$mi AS (SELECT list_transform(range($lo, ${lo + sub}), j -> v[j]) AS v FROM q)"
    }
    val adcs = (0 until m).map { mi =>
      s"""adc$mi AS (
         |  SELECT c.cluster, ${dotSql("c.c", "s.v", sub)} AS t
         |  FROM cents$pqMaxIter${s"_s$mi"} c, qs$mi s)""".stripMargin
    }
    val asgJoins = (1 until m)
      .map(mi => s"JOIN asg$finalAsg${s"_s$mi"} a$mi USING (id)").mkString(" ")
    val adcJoins = (0 until m)
      .map(mi => s"JOIN adc$mi ON adc$mi.cluster = a$mi.cluster").mkString(" ")
    val approxExpr = (1 until m).foldLeft("adc0.t")((acc, mi) => s"($acc + adc$mi.t)")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |${chains.map(_._1).mkString(",\n")},
       |$ivfChainText,
       |q AS (SELECT v FROM base WHERE vec_id = $queryVecId),
       |probed AS (
       |  SELECT c.cluster FROM cents0_ivf c, q
       |  ORDER BY ${euclidSql("c.c", "q.v", dim)}, c.cluster
       |  LIMIT $nprobe),
       |${qs.mkString(",\n")},
       |${adcs.mkString(",\n")},
       |approx AS (
       |  SELECT a0.id, $approxExpr AS approx
       |  FROM asg$finalAsg${"_s0"} a0 $asgJoins
       |  JOIN asg${ivfFinalAsg}_ivf ai USING (id)
       |  JOIN probed p ON p.cluster = ai.cluster
       |  $adcJoins),
       |cand AS (SELECT id FROM approx ORDER BY approx DESC, id LIMIT $candidateK)
       |SELECT b.id, ROUND(${dotSql("b.v", "q.v", dim)}, 6) AS score
       |FROM base b JOIN cand USING (id), q
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** ann_ivfpq_residual oracle: textbook residual IVF-PQ — the maxIter=0
    * coarse chain assigns every point, residuals (v - centroid[cluster])
    * feed the per-subspace Lloyd's codebook chains, and a row's
    * approximate score is dot(q, centroid[cluster]) + the ADC sum over
    * RAW query slices (dot(q, cent + recon) decomposes exactly).
    */
  def ivfPqResidualSql(queryVecId: Int, k: Int, candidateK: Int, dim: Int,
                       m: Int, ksub: Int, pqMaxIter: Int, nlist: Int,
                       nprobe: Int, seed: Long): String = {
    require(dim % m == 0)
    val sub = dim / m
    def dotSql(a: String, b: String, d: Int): String =
      s"list_reduce(list_transform(range(1, ${d + 1}), j -> ($a[j]) * ($b[j])), (x, y) -> x + y)"
    val (ivfChainText, ivfFinalAsg) = ivfChain(
      "  SELECT id, v FROM base", dim, nlist, 0, seed, sfx = "_ivf")
    val chains = (0 until m).map { mi =>
      val lo = mi * sub + 1
      ivfChain(
        s"  SELECT id, list_transform(range($lo, ${lo + sub}), j -> v[j]) AS v FROM res",
        sub, ksub, pqMaxIter, seed, sfx = s"_s$mi")
    }
    val finalAsg = chains.head._2
    val qs = (0 until m).map { mi =>
      val lo = mi * sub + 1
      s"qs$mi AS (SELECT list_transform(range($lo, ${lo + sub}), j -> v[j]) AS v FROM q)"
    }
    val adcs = (0 until m).map { mi =>
      s"""adc$mi AS (
         |  SELECT c.cluster, ${dotSql("c.c", "s.v", sub)} AS t
         |  FROM cents$pqMaxIter${s"_s$mi"} c, qs$mi s)""".stripMargin
    }
    val asgJoins = (1 until m)
      .map(mi => s"JOIN asg$finalAsg${s"_s$mi"} a$mi USING (id)").mkString(" ")
    val adcJoins = (0 until m)
      .map(mi => s"JOIN adc$mi ON adc$mi.cluster = a$mi.cluster").mkString(" ")
    val approxExpr = (1 until m).foldLeft("adc0.t")((acc, mi) => s"($acc + adc$mi.t)")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |$ivfChainText,
       |res AS (
       |  SELECT b.id, a.cluster,
       |         list_transform(range(1, ${dim + 1}), j -> b.v[j] - c.c[j]) AS v
       |  FROM base b
       |  JOIN asg${ivfFinalAsg}_ivf a USING (id)
       |  JOIN cents0_ivf c ON c.cluster = a.cluster),
       |${chains.map(_._1).mkString(",\n")},
       |q AS (SELECT v FROM base WHERE vec_id = $queryVecId),
       |probed AS (
       |  SELECT c.cluster FROM cents0_ivf c, q
       |  ORDER BY ${euclidSql("c.c", "q.v", dim)}, c.cluster
       |  LIMIT $nprobe),
       |cd AS (
       |  SELECT c.cluster, ${dotSql("q.v", "c.c", dim)} AS t
       |  FROM cents0_ivf c JOIN probed USING (cluster), q),
       |${qs.mkString(",\n")},
       |${adcs.mkString(",\n")},
       |approx AS (
       |  SELECT a0.id, cd.t + $approxExpr AS approx
       |  FROM asg$finalAsg${"_s0"} a0 $asgJoins
       |  JOIN res r USING (id)
       |  JOIN cd ON cd.cluster = r.cluster
       |  $adcJoins),
       |cand AS (SELECT id FROM approx ORDER BY approx DESC, id LIMIT $candidateK)
       |SELECT b.id, ROUND(${dotSql("b.v", "q.v", dim)}, 6) AS score
       |FROM base b JOIN cand USING (id), q
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** CTE chain shared by [[minhashSql]] and [[minhashClustersSql]]:
    * corpus -> shingle hashes -> minhash signature -> banded candidates ->
    * Jaccard-verified `pairs(a_id, b_id, jaccard)`.
    */
  private def minhashPairCtes(threshold: Double, numHashes: Int, bands: Int,
                              seed: Long, cmp: String = ">="): String =
    s"""${minhashCandCtes(numHashes, bands, seed)},
       |pairs AS (SELECT * FROM (
       |  SELECT a_id, b_id,
       |         ROUND(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) /
       |               CAST(len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE), 6) AS jaccard
       |  FROM cands JOIN tsets ta ON ta.doc_id = a_id JOIN tsets tb ON tb.doc_id = b_id)
       |  WHERE jaccard $cmp $threshold)""".stripMargin

  /** The chain up to banded candidates + token sets — shared by the
    * Jaccard pairs above and the containment pairs below.
    */
  private def minhashCandCtes(numHashes: Int, bands: Int, seed: Long): String = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    val (as, bs) = HashKernel.coefficients(numHashes, seed)
    val g2 = (Golden * Golden) % M64
    val c3 = (Sh0 * Golden % M64 * Golden % M64 * Golden) % M64
    val hs = 0 until numHashes
    // v0: a_i*x + b_i; v1: x ^= x>>>33; v2: x *= C; v3: x ^= x>>>33, signed
    val v0 = hs.map(i => s"((${mulMod(u64(as(i)), "x")}) + ${u64(bs(i))}::HUGEINT) % $M64::HUGEINT AS c$i").mkString(",\n    ")
    val v1 = hs.map(i => s"xor(CAST(c$i AS UBIGINT), CAST(c$i AS UBIGINT) >> 33) AS c$i").mkString(",\n    ")
    val v2 = hs.map(i => s"${mulMod(MixC, s"CAST(c$i AS HUGEINT)")} AS c$i").mkString(",\n    ")
    val v3 = hs.map(i => s"xor(CAST(c$i AS UBIGINT), CAST(c$i AS UBIGINT) >> 33) AS c$i").mkString(",\n    ")
    val sgn = hs.map(i => s"${toSigned(s"c$i")} AS c$i").mkString(",\n    ")
    val mins = hs.map(i => s"MIN(c$i) AS m$i").mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val ks = (0 until r).map(k => s"m${b * r + k} AS k$k").mkString(", ")
      s"SELECT doc_id, $b AS band, $ks FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val kEq = (0 until r).map(k => s"a.k$k = b.k$k").mkString(" AND ")
    s"""$corpusToSh1,
       |sh3a AS (
       |  SELECT doc_id, list_transform(range(1, len(th) - 1), j ->
       |    CAST(($c3::HUGEINT + (${mulMod(g2, "th[j]")}) + (${mulMod(Golden, "th[j + 1]")}) + th[j + 2]) % $M64::HUGEINT AS UBIGINT)) AS v
       |  FROM th),
       |sh3 AS (SELECT doc_id, list_transform(v, u -> xor(u, u >> 32)) AS v FROM sh3a),
       |srows AS (SELECT doc_id, CAST(unnest(v) AS HUGEINT) AS x FROM sh3),
       |v0 AS (SELECT doc_id,
       |    $v0
       |  FROM srows),
       |v1 AS (SELECT doc_id,
       |    $v1
       |  FROM v0),
       |v2 AS (SELECT doc_id,
       |    $v2
       |  FROM v1),
       |v3 AS (SELECT doc_id,
       |    $v3
       |  FROM v2),
       |sgn AS (SELECT doc_id,
       |    $sgn
       |  FROM v3),
       |sig AS (SELECT doc_id, $mins FROM sgn GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND $kEq AND a.doc_id < b.doc_id),
       |tsets AS (SELECT doc_id, list_distinct(hs1) AS ts FROM sh1)""".stripMargin
  }

  /** rand_projection oracle (Quant.projectColumn): the SAME seeded ±1
    * sign matrix (embedded as literals — the model is driver-side state
    * in both engines) and the SAME pinned left-to-right fold, so the
    * doubles match bit-for-bit.
    */
  def randProjectionSql(inDim: Int = 64, outDim: Int = 16,
                        seed: Long = 42L): String = {
    val scale = java.lang.Double.toString(1.0 / math.sqrt(outDim.toDouble))
    val cols = (0 until outDim).map { j =>
      val terms = (0 until inDim).map { i =>
        val s = java.lang.Double.toString(graft.ops.Quant.projectionSign(seed, j, i))
        s"e[${i + 1}] * ($s)"
      }.mkString(" + ")
      s"($terms) * $scale + 0.0 AS p$j"
    }.mkString(",\n       |       ").stripMargin
    s"""SELECT vec_id,
       |       $cols
       |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |ORDER BY vec_id""".stripMargin
  }

  /** doc_containment oracle (Dedup.containmentPairs): same banded
    * candidates, each unordered pair emitted in BOTH orientations with
    * |src ∩ dst| / |src|.
    */
  def containmentSql(threshold: Double, numHashes: Int = 16,
                     bands: Int = 8, seed: Long = 42L): String =
    s"""WITH ${minhashCandCtes(numHashes, bands, seed)},
       |cboth AS (
       |  SELECT a_id AS src_id, b_id AS dst_id,
       |         ROUND(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) /
       |               CAST(len(ta.ts) AS DOUBLE), 6) AS containment
       |  FROM cands JOIN tsets ta ON ta.doc_id = a_id JOIN tsets tb ON tb.doc_id = b_id
       |  UNION ALL
       |  SELECT b_id, a_id,
       |         ROUND(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) /
       |               CAST(len(tb.ts) AS DOUBLE), 6)
       |  FROM cands JOIN tsets ta ON ta.doc_id = a_id JOIN tsets tb ON tb.doc_id = b_id)
       |SELECT src_id, dst_id, containment FROM cboth
       |WHERE containment >= $threshold
       |ORDER BY src_id, dst_id""".stripMargin

  /** decontam_minhash oracle (Dedup.minhashContaminated: corpus = the
    * documents table, benchmark = the ' zzz'-appended variants of
    * doc_id % 7 = 0): the [[minhashSql]] chain duplicated per SIDE with
    * suffixed CTEs, candidates joined ACROSS sides on exact
    * sub-signature equality, Jaccard verified over each side's distinct
    * w=1 token-hash set, then per-corpus-id max + count.
    */
  def minhashDecontamSql(threshold: Double, numHashes: Int = 16,
                         bands: Int = 4, seed: Long = 42L): String =
    minhashCrossSql(threshold, numHashes, bands, seed,
      """SELECT cid AS id, MAX(jaccard) AS max_jaccard, COUNT(*) AS n_hits
        |FROM hits GROUP BY cid ORDER BY id""".stripMargin)

  /** neardup_ingest oracle — the PAIR-level view of the same cross-side
    * chain (Dedup.nearDupsAgainstIndex: incoming = the planted variants,
    * index = the documents corpus): every verified (incoming, stored)
    * pair with its Jaccard.
    */
  def minhashProbePairsSql(threshold: Double, numHashes: Int = 16,
                           bands: Int = 4, seed: Long = 42L): String =
    minhashCrossSql(threshold, numHashes, bands, seed,
      """SELECT bid AS in_id, cid AS hit_id, jaccard
        |FROM hits ORDER BY in_id, hit_id""".stripMargin)

  private def minhashCrossSql(threshold: Double, numHashes: Int,
                              bands: Int, seed: Long,
                              finalSelect: String): String = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    val (cas, cbs) = HashKernel.coefficients(numHashes, seed)
    val k1 = (Sh0 * Golden) % M64
    val g2 = (Golden * Golden) % M64
    val c3 = (Sh0 * Golden % M64 * Golden % M64 * Golden) % M64
    val hs = 0 until numHashes
    def chain(s: String, src: String): String = {
      val v0 = hs.map(i => s"((${mulMod(u64(cas(i)), "x")}) + ${u64(cbs(i))}::HUGEINT) % $M64::HUGEINT AS c$i").mkString(",\n    ")
      val v1 = hs.map(i => s"xor(CAST(c$i AS UBIGINT), CAST(c$i AS UBIGINT) >> 33) AS c$i").mkString(",\n    ")
      val v2 = hs.map(i => s"${mulMod(MixC, s"CAST(c$i AS HUGEINT)")} AS c$i").mkString(",\n    ")
      val v3 = hs.map(i => s"xor(CAST(c$i AS UBIGINT), CAST(c$i AS UBIGINT) >> 33) AS c$i").mkString(",\n    ")
      val sgn = hs.map(i => s"${toSigned(s"c$i")} AS c$i").mkString(",\n    ")
      val mins = hs.map(i => s"MIN(c$i) AS m$i").mkString(", ")
      s"""th$s AS (
         |  SELECT doc_id, list_transform(
         |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0),
         |    t -> $fnvOfT) AS th
         |  FROM $src),
         |sh1a$s AS (
         |  SELECT doc_id, list_transform(th, t -> CAST(($k1::HUGEINT + t) % $M64::HUGEINT AS UBIGINT)) AS v
         |  FROM th$s),
         |sh1$s AS (SELECT doc_id, list_transform(v, u -> xor(u, u >> 32)) AS hs1 FROM sh1a$s),
         |sh3a$s AS (
         |  SELECT doc_id, list_transform(range(1, len(th) - 1), j ->
         |    CAST(($c3::HUGEINT + (${mulMod(g2, "th[j]")}) + (${mulMod(Golden, "th[j + 1]")}) + th[j + 2]) % $M64::HUGEINT AS UBIGINT)) AS v
         |  FROM th$s),
         |sh3$s AS (SELECT doc_id, list_transform(v, u -> xor(u, u >> 32)) AS v FROM sh3a$s),
         |srows$s AS (SELECT doc_id, CAST(unnest(v) AS HUGEINT) AS x FROM sh3$s),
         |v0$s AS (SELECT doc_id,
         |    $v0
         |  FROM srows$s),
         |v1$s AS (SELECT doc_id,
         |    $v1
         |  FROM v0$s),
         |v2$s AS (SELECT doc_id,
         |    $v2
         |  FROM v1$s),
         |v3$s AS (SELECT doc_id,
         |    $v3
         |  FROM v2$s),
         |sgn$s AS (SELECT doc_id,
         |    $sgn
         |  FROM v3$s),
         |sig$s AS (SELECT doc_id, $mins FROM sgn$s GROUP BY doc_id)""".stripMargin
    }
    def bandSelects(s: String) = (0 until bands).map { b =>
      val ks = (0 until r).map(k => s"m${b * r + k} AS k$k").mkString(", ")
      s"SELECT doc_id, $b AS band, $ks FROM sig$s"
    }.mkString("\n  UNION ALL\n  ")
    val kEq = (0 until r).map(k => s"a.k$k = b.k$k").mkString(" AND ")
    s"""WITH cc AS (SELECT doc_id, text FROM documents),
       |bc AS (SELECT doc_id + 1000000 AS doc_id, text || ' zzz' AS text
       |       FROM documents WHERE doc_id % 7 = 0),
       |${chain("c", "cc")},
       |${chain("b", "bc")},
       |cbands AS (
       |  ${bandSelects("c")}),
       |bbands AS (
       |  ${bandSelects("b")}),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS cid, b.doc_id AS bid
       |  FROM cbands a JOIN bbands b ON a.band = b.band AND $kEq),
       |tsc AS (SELECT doc_id, list_distinct(hs1) AS ts FROM sh1c),
       |tsb AS (SELECT doc_id, list_distinct(hs1) AS ts FROM sh1b),
       |hits AS (SELECT * FROM (
       |  SELECT cid, bid,
       |         ROUND(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) /
       |               CAST(len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE), 6) AS jaccard
       |  FROM cands JOIN tsc ta ON ta.doc_id = cid JOIN tsb tb ON tb.doc_id = bid)
       |  WHERE jaccard >= $threshold)
       |$finalSelect""".stripMargin
  }

  /** dedup_minhash oracle: w=3 shingle hashes -> 16 minhash functions
    * (a_i*x + b_i then the murmur3 finalizer, signed MIN) -> 4 bands of 4
    * joined on exact sub-signature equality -> true-Jaccard verify over the
    * distinct w=1 shingle-hash sets (Dedup.minhashDedup; the Spark side
    * bands on xxhash64 of the sub-signature, equal up to ~2^-64 collisions).
    */
  /** hard_negatives oracle: the SAME chain, candidates that FAILED the
    * verification cut — band-collided yet dissimilar pairs.
    */
  def minhashHardNegativesSql(threshold: Double, numHashes: Int = 16,
                              bands: Int = 4, seed: Long = 42L): String =
    s"""WITH ${minhashPairCtes(threshold, numHashes, bands, seed, cmp = "<")}
       |SELECT a_id, b_id, jaccard FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  def minhashSql(threshold: Double, numHashes: Int = 16, bands: Int = 4,
                 seed: Long = 42L): String =
    s"""WITH ${minhashPairCtes(threshold, numHashes, bands, seed)}
       |SELECT a_id, b_id, jaccard FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  /** clean_corpus oracle: the END-TO-END training-data pipeline
    * (Pipeline.cleanCorpus) mirrored stage by stage — exact dedup keeps
    * min-id per text group; the minhash near-dup pairs RESTRICT to pairs
    * whose BOTH ends survived the exact stage (band buckets are
    * per-document, so removing docs only removes pairs — the survivor
    * corpus's pair set IS the full pair set filtered to survivors); the
    * quality gate applies the raw (unrounded) quality formula, identical
    * IEEE ops in the same order as the TextStats kernel.
    */
  def cleanCorpusSql(threshold: Double, minQuality: Double,
                     numHashes: Int = 16, bands: Int = 4,
                     seed: Long = 42L): String =
    s"""WITH ${minhashPairCtes(threshold, numHashes, bands, seed)},
       |exact_keep AS (
       |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
       |losers AS (
       |  SELECT DISTINCT p.b_id AS doc_id FROM pairs p
       |  JOIN exact_keep a ON a.doc_id = p.a_id
       |  JOIN exact_keep b ON b.doc_id = p.b_id),
       |surv AS (
       |  SELECT c.doc_id, c.text FROM corpus c
       |  JOIN exact_keep k ON k.doc_id = c.doc_id
       |  WHERE c.doc_id NOT IN (SELECT doc_id FROM losers)),
       |t AS (SELECT doc_id, text,
       |             list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
       |      FROM surv),
       |m AS (SELECT doc_id,
       |             CAST(len(toks) AS DOUBLE) AS n,
       |             CASE WHEN len(toks) > 0 THEN
       |               CAST(len(list_filter(toks, x -> list_contains(
       |                 ['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
       |                 / CAST(len(toks) AS DOUBLE)
       |             ELSE 0.0 END AS ratio,
       |             CASE WHEN len(text) > 0 THEN
       |               CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
       |                 / CAST(len(text) AS DOUBLE)
       |             ELSE 0.0 END AS punct
       |      FROM t)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens
       |FROM m
       |WHERE least(n / 50.0, 1.0) * (0.5 + 0.5 * least(ratio * 5.0, 1.0)) *
       |      greatest(1.0 - punct * 3.0, 0.0) >= $minQuality
       |ORDER BY doc_id""".stripMargin

  /** dedup_clusters_minhash oracle: the same LSH-verified pair set as
    * [[minhashSql]], closed transitively by a recursive CTE — min reachable
    * doc_id per node, singletons their own component (the exact contract of
    * Dedup.dedupClustersMinhash, which propagates min labels over the same
    * edges with pointer jumping instead of recursion).
    */
  def minhashClustersSql(threshold: Double, numHashes: Int = 16,
                         bands: Int = 4, seed: Long = 42L): String =
    s"""WITH RECURSIVE ${minhashPairCtes(threshold, numHashes, bands, seed)},
       |e AS (SELECT a_id AS s, b_id AS d FROM pairs
       |      UNION ALL
       |      SELECT b_id, a_id FROM pairs),
       |reach(id, comp) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.d, r.comp FROM reach r JOIN e ON e.s = r.id)
       |SELECT id AS doc_id, min(comp) AS component
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Unrolled-CTE mirror of [[graft.ops.Graph.pageRank]] over the
    * lineitem supplier<->part graph (part ids offset by 1000000). Every
    * arithmetic step is DuckDB `//` floor division on positive integers —
    * identical to the engine's `div` — so ranks are bit-equal longs.
    * DuckDB SUM over BIGINT widens to HUGEINT; the cast back to BIGINT
    * keeps the iteration (and the output) in the engine's type.
    */
  def pageRankSql(iterations: Int, dampNum: Int = 85, k: Int = 10): String = {
    val scale = graft.ops.Graph.Scale
    val base = s"($scale * ${100 - dampNum} // 100) // (SELECT nn FROM p)"
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (SELECT n.id, $base + (COALESCE(c.m, 0) * $dampNum) // 100 AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS id, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS m
         |    FROM e JOIN r${i - 1} r ON e.src = r.id JOIN d ON d.src = e.src
         |    GROUP BY e.dst) c ON n.id = c.id)""".stripMargin
    }
    s"""WITH pr AS (SELECT DISTINCT l_suppkey AS sk, l_partkey + 1000000 AS pk FROM lineitem),
       |e AS (SELECT sk AS src, pk AS dst FROM pr UNION ALL SELECT pk, sk FROM pr),
       |n AS (SELECT DISTINCT src AS id FROM e),
       |d AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |p AS (SELECT COUNT(*) AS nn FROM n),
       |r0 AS (SELECT id, $scale // (SELECT nn FROM p) AS r FROM n),
       |${iters.mkString(",\n")}
       |SELECT id, CAST(r AS BIGINT) AS rank_scaled FROM r$iterations
       |ORDER BY rank_scaled DESC, id ASC LIMIT $k""".stripMargin
  }

  /** Shared CTE chain of the span-dedup oracles — mirrors
    * [[graft.ops.Dedup.duplicatedSpans]] (w = 3) over the exact-dup corpus
    * with `phrase` appended to doc_id % 4 == 0: token 3-shingles with
    * 0-based positions, cross-document duplicated shingles, and
    * gaps-and-islands merged `spans(doc_id, span_start, span_end,
    * span_len)`. Also exposes `t(doc_id, toks)` for token counts.
    */
  /** The planted span-dedup corpus + token 3-shingle HASH positions:
    * `c(doc_id, text)`, `t(doc_id, toks)` (string tokens, for
    * reassembly), `sh(doc_id, s, pos)` with `s` the kernel-arithmetic
    * shingle hash — mirroring Dedup.shingledPositions' native kernel.
    */
  private def spanBaseCtes(phrase: String): String =
    s"""c0 AS (SELECT doc_id, text FROM documents
       |       UNION ALL
       |       SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
       |c AS (SELECT doc_id,
       |             CASE WHEN doc_id % 4 = 0 THEN text || ' $phrase' ELSE text END AS text
       |      FROM c0),
       |t AS (SELECT doc_id,
       |             list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
       |      FROM c),
       |${sh3Of("c")},
       |shp AS (SELECT doc_id, unnest(v) AS s, unnest(range(1, len(v) + 1)) AS p1 FROM sh3),
       |sh AS (SELECT doc_id, s, CAST(p1 - 1 AS BIGINT) AS pos FROM shp)""".stripMargin

  /** Gaps-and-islands merge (w = 3) of hit CTE `src(doc_id, pos)` into
    * `out(doc_id, span_start, span_end, span_len)`.
    */
  private def islandCtes(src: String, out: String): String =
    s"""${out}_i AS (SELECT doc_id, pos,
       |               SUM(CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END)
       |                 OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |        FROM (SELECT doc_id, pos,
       |                     max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
       |              FROM $src) ${out}_h),
       |$out AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 3 AS span_end,
       |                max(pos) + 3 - min(pos) AS span_len
       |         FROM ${out}_i GROUP BY doc_id, island)""".stripMargin

  def spanCtes(phrase: String): String =
    s"""${spanBaseCtes(phrase)},
       |dup AS (SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
       |h AS (SELECT doc_id, pos FROM sh JOIN dup USING (s)),
       |${islandCtes("h", "spans")}""".stripMargin

  /** Mirror of [[graft.ops.Dedup.stripDuplicatedSpans]] (w = 3) over the
    * planted span corpus: foreign hits (occurrences outside the shingle's
    * min-doc owner) merge to spans, surviving tokens reassemble in
    * position order, and the kept text is fingerprinted with the engine's
    * rolling hash.
    */
  /** CTE chain of the span-decontamination oracles: shingle positions of
    * the PLAIN documents table, benchmark = `doc_id % mod == 0` (the
    * doc-level decontam oracle's split), hits = corpus shingles present
    * in the benchmark shingle set, islands merged at w = 3.
    */
  def decontamSpanCtes(mod: Int): String =
    s"""t AS (SELECT doc_id,
       |             list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
       |      FROM documents),
       |${sh3Of("documents")},
       |shp AS (SELECT doc_id, unnest(v) AS s, unnest(range(1, len(v) + 1)) AS p1 FROM sh3),
       |sh AS (SELECT doc_id, s, CAST(p1 - 1 AS BIGINT) AS pos FROM shp),
       |bs AS (SELECT DISTINCT s FROM sh WHERE doc_id % $mod = 0),
       |h AS (SELECT doc_id, pos FROM sh WHERE doc_id % $mod <> 0
       |      AND s IN (SELECT s FROM bs)),
       |${islandCtes("h", "spans")}""".stripMargin

  /** Mirror of [[graft.ops.Dedup.stripContaminatedSpans]] (w = 3): corpus
    * docs rebuilt with their benchmark-overlapping spans removed, kept
    * text fingerprinted with the engine's rolling hash.
    */
  def decontamSpanStripSql(mod: Int): String =
    s"""WITH ${decontamSpanCtes(mod)},
       |tok0 AS (SELECT doc_id, unnest(toks) AS tok,
       |                unnest(range(1, len(toks) + 1)) AS p1 FROM t
       |         WHERE doc_id % $mod <> 0),
       |tok AS (SELECT doc_id, CAST(p1 - 1 AS BIGINT) AS pos, tok FROM tok0),
       |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
       |         WHERE NOT EXISTS (SELECT 1 FROM spans f
       |                           WHERE f.doc_id = tok.doc_id
       |                             AND tok.pos >= f.span_start
       |                             AND tok.pos < f.span_end)),
       |re AS (SELECT doc_id, COUNT(*) AS n_kept,
       |              array_to_string(list(tok ORDER BY pos), ' ') AS kt
       |       FROM kept GROUP BY doc_id),
       |fp0 AS (SELECT doc_id, n_kept,
       |               ${rollingHashUnsignedSql("kt")} AS hu
       |        FROM re)
       |SELECT doc_id, n_kept, ${signed64("hu")} AS kept_fp
       |FROM fp0 ORDER BY doc_id""".stripMargin

  def spanStripSql(phrase: String): String =
    s"""WITH ${spanBaseCtes(phrase)},
       |own AS (SELECT s, min(doc_id) AS owner FROM sh
       |        GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
       |fh AS (SELECT sh.doc_id, sh.pos FROM sh JOIN own USING (s)
       |       WHERE sh.doc_id <> own.owner),
       |${islandCtes("fh", "fspans")},
       |tok0 AS (SELECT doc_id, unnest(toks) AS tok,
       |                unnest(range(1, len(toks) + 1)) AS p1 FROM t),
       |tok AS (SELECT doc_id, CAST(p1 - 1 AS BIGINT) AS pos, tok FROM tok0),
       |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
       |         WHERE NOT EXISTS (SELECT 1 FROM fspans f
       |                           WHERE f.doc_id = tok.doc_id
       |                             AND tok.pos >= f.span_start
       |                             AND tok.pos < f.span_end)),
       |re AS (SELECT doc_id, COUNT(*) AS n_kept,
       |              array_to_string(list(tok ORDER BY pos), ' ') AS kt
       |       FROM kept GROUP BY doc_id),
       |fp0 AS (SELECT doc_id, n_kept,
       |               ${rollingHashUnsignedSql("kt")} AS hu
       |        FROM re)
       |SELECT doc_id, n_kept, ${signed64("hu")} AS kept_fp
       |FROM fp0 ORDER BY doc_id""".stripMargin
}
