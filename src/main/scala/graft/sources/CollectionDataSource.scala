package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.{sources, DataFrame}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.collections.{CollectionDescriptor, DenseField, MultiField, SparseField}

/** A point in a collection store: the row-oriented wire form the reference
  * receives over gRPC (/root/reference/src/table.rs:305 ScoredPoint) before
  * pivoting to columnar. Vector values are keyed by FIELD name (sparse
  * fields carry the (indices, values) pair under the one logical name —
  * extractor dispatch is descriptor-keyed, not name-suffix-keyed, fixing
  * the quirk noted in SURVEY.md §1.3).
  */
final case class Point(
    id: String,
    payload: Option[String],
    dense: Map[String, Array[Float]] = Map.empty,
    multi: Map[String, Array[Array[Float]]] = Map.empty,
    sparse: Map[String, (Array[Int], Array[Float])] = Map.empty)

/** One change-log entry: an upsert carrying the full point, or a delete
  * tombstone carrying only the id (the reference backend deletes points
  * by id; real CDC must replay both kinds). `seq` is the entry's log
  * position — filled in by [[CollectionStore.logEntries]] on read (-1
  * while buffered pre-commit, where the position is not yet assigned).
  */
final case class LogEntry(op: String, point: Point, seq: Long = -1L)

object LogOps {
  val Upsert = "upsert"
  val Delete = "delete"
}

/** A pushed top-k vector query: the scan IS a scored search, exactly the
  * reference's architecture where the table's scan executes `QueryPoints`
  * with the query embedded and the backend returns scored points
  * (/root/reference/src/table.rs:279-302) — no full-collection decode ever
  * happens above the scan. `metric` is one of `cosine` / `dot` / `euclid`;
  * ranking is best-first (descending score for cosine/dot, ascending
  * distance for euclid), ties broken by id ascending in UTF-8 byte order
  * (Spark string semantics).
  */
final case class SearchSpec(field: String, query: Array[Double],
                            metric: String, k: Int,
                            offset: Int = 0,
                            scoreThreshold: Option[Double] = None,
                            sparseIndices: Option[Array[Int]] = None,
                            multiQuery: Option[Array[Array[Double]]] = None) {
  require(k > 0, s"search.k must be positive, got $k")
  require(offset >= 0, s"search.offset must be >= 0, got $offset")
  require(SearchSpec.Metrics(metric),
    s"search.metric must be one of ${SearchSpec.Metrics.mkString("/")}, got '$metric'")
  // a SPARSE query: `query` holds the nonzero VALUES, `sparseIndices`
  // their strictly-ascending dimensions (the two-array convention);
  // dot is the sparse comparator (the backend's sparse vectors have no
  // other metric)
  sparseIndices.foreach { qi =>
    require(qi.length == query.length,
      s"search.sparseIndices length ${qi.length} != values length ${query.length}")
    require(qi.toSeq.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      s"search.sparseIndices must be strictly ascending")
    require(metric == "dot",
      s"sparse search supports only the dot metric, got '$metric'")
  }
  // a MULTI-VECTOR (late-interaction) query: `multiQuery` holds the
  // query's vector set, scored by MaxSim (sum over query vectors of
  // the max dot against the point's set — the backend's multivector
  // comparator, /root/reference/tests/e2e.rs:142-147); `query` carries
  // the MEAN-POOLED form, the ANN candidate-stage key
  multiQuery.foreach { qm =>
    require(qm.nonEmpty, "search.multiVector needs at least one vector")
    require(metric == "dot",
      s"multi-vector search scores MaxSim over dot, got '$metric'")
    require(sparseIndices.isEmpty,
      "a query is sparse or multi-vector, not both")
  }
  /** Compact display form for plan descriptions / EXPLAIN assertions. */
  def describe: String =
    (if (multiQuery.isDefined) s"maxsim_$metric"
     else if (sparseIndices.isDefined) s"sparse_$metric" else metric) +
    s"($field, dim=${query.length}, k=$k)" +
    (if (offset > 0) s", offset=$offset" else "") +
    scoreThreshold.map(t => s", threshold=$t").getOrElse("")

  /** Does raw score `s` pass the threshold? The backend's
    * `score_threshold` convention: a MINIMUM for similarity metrics
    * (higher = better), a MAXIMUM for euclid distance.
    */
  def passes(s: Double): Boolean = scoreThreshold.forall(t =>
    if (SearchSpec.descending(metric)) s >= t else s <= t)
}

object SearchSpec {
  val Metrics: Set[String] = Set("cosine", "dot", "euclid")
  val ScoreCol = "_score"

  /** Parse the `search.*` read options; None when no search is pushed.
    * `search.vector` is a comma-joined list of doubles (shortest
    * round-trip `Double.toString` forms parse back exactly).
    */
  def fromOptions(o: CaseInsensitiveStringMap): Option[SearchSpec] =
    Option(o.get("search.multiVector")).map { mv =>
      // MULTI-VECTOR query: ';'-joined rows of comma-joined doubles.
      // The pooled mean rides `query` (the candidate-stage key); the
      // rows ride `multiQuery` (the exact MaxSim comparator).
      val field = Option(o.get("search.field")).getOrElse(
        throw new IllegalArgumentException(
          "search.multiVector requires search.field"))
      val rows = mv.split(";").map(_.split(",")
        .map(s => java.lang.Double.parseDouble(s.trim)))
      SearchSpec(field, SearchSpec.poolRows(rows),
        Option(o.get("search.metric")).getOrElse("dot"),
        o.getInt("search.k", 10),
        o.getInt("search.offset", 0),
        Option(o.get("search.scoreThreshold"))
          .map(java.lang.Double.parseDouble),
        None, Some(rows))
    }.orElse(Option(o.get("search.field")).map { field =>
      val vec = Option(o.get("search.vector")).getOrElse(
        throw new IllegalArgumentException(
          "search.field requires search.vector (comma-joined doubles)"))
      val sparseIdx = Option(o.get("search.sparseIndices"))
        .map(_.split(",").map(s => java.lang.Integer.parseInt(s.trim)))
      SearchSpec(field,
        vec.split(",").map(s => java.lang.Double.parseDouble(s.trim)),
        Option(o.get("search.metric"))
          .getOrElse(if (sparseIdx.isDefined) "dot" else "cosine"),
        o.getInt("search.k", 10),
        o.getInt("search.offset", 0),
        Option(o.get("search.scoreThreshold"))
          .map(java.lang.Double.parseDouble),
        sparseIdx)
    })

  /** `true` when a larger score is better under `metric` (euclid ranks
    * smallest-distance-first).
    */
  def descending(metric: String): Boolean = metric != "euclid"

  /** The metric kernel, bit-identical to the codegen expressions in
    * graft.functions (same sequential accumulation order), so a pushed
    * search scores exactly like the above-the-scan `v_cosine`/`v_dot`/
    * `v_euclid` form it replaces. Returns None for a zero-norm cosine
    * (the expression's NULL case — such points cannot rank).
    */
  def score(metric: String, a: Array[Float], q: Array[Double]): Option[Double] = {
    val n = math.min(a.length, q.length)
    metric match {
      case "dot" =>
        var i = 0; var s = 0.0
        while (i < n) { s += a(i).toDouble * q(i); i += 1 }
        Some(s)
      case "euclid" =>
        var i = 0; var s = 0.0
        while (i < n) { val d = a(i).toDouble - q(i); s += d * d; i += 1 }
        Some(math.sqrt(s))
      case _ =>
        var i = 0; var dot = 0.0; var na = 0.0; var nb = 0.0
        while (i < n) {
          val x = a(i).toDouble; val y = q(i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val denom = math.sqrt(na) * math.sqrt(nb)
        if (denom == 0.0) None else Some(dot / denom)
    }
  }

  /** Sparse dot — the sorted-merge multiply-accumulate of the codegen
    * `v_sparse_dot` kernel (ascending matched-dim order), so a pushed
    * sparse search scores bit-identically to the engine expression AND
    * to the postings-index fold ([[graft.ops.SparseIndex]], which sums
    * contributions in the same ascending order). None when no dimension
    * matches: such points share nothing with the query and never enter
    * the result (the inverted-index semantics — they'd score an exact
    * 0.0 and, with nonnegative values, cannot out-rank a match).
    */
  def scoreSparse(di: Array[Int], dv: Array[Float],
                  qi: Array[Int], qv: Array[Double]): Option[Double] = {
    var i = 0; var j = 0; var s = 0.0; var matched = false
    while (i < di.length && j < qi.length) {
      if (di(i) == qi(j)) {
        s += dv(i).toDouble * qv(j); matched = true; i += 1; j += 1
      } else if (di(i) < qi(j)) i += 1
      else j += 1
    }
    if (matched) Some(s) else None
  }

  /** ColBERT MaxSim — bit-identical accumulation to the codegen
    * [[graft.functions.MaxSim]] kernel (sum over query vectors of the
    * max dot against the point's vectors; an empty point set
    * contributes 0.0; a NaN dot wins the max), so a pushed multi-vector
    * search scores exactly like the above-the-scan `v_maxsim` form it
    * replaces.
    */
  def scoreMulti(doc: Array[Array[Float]], qm: Array[Array[Double]]): Double = {
    var total = 0.0
    var qi = 0
    while (qi < qm.length) {
      val qv = qm(qi)
      var best = Double.NegativeInfinity
      var di = 0
      while (di < doc.length) {
        val dv = doc(di)
        val n = math.min(qv.length, dv.length)
        var k = 0
        var dot = 0.0
        while (k < n) { dot += qv(k) * dv(k).toDouble; k += 1 }
        if (java.lang.Double.isNaN(dot) || dot > best) best = dot
        di += 1
      }
      if (doc.length > 0) total += best
      qi += 1
    }
    total
  }

  /** Mean-pool a MULTI QUERY's rows — the candidate-stage key riding
    * [[SearchSpec.query]] (shared by [[fromOptions]] and the wire
    * servers, so a query pooled client-side or service-side is the
    * same vector).
    */
  def poolRows(rows: Array[Array[Double]]): Array[Double] = {
    val dim = rows.headOption.map(_.length).getOrElse(0)
    val pooled = new Array[Double](dim)
    rows.foreach { r =>
      var i = 0
      while (i < dim && i < r.length) { pooled(i) += r(i); i += 1 }
    }
    var i = 0
    while (i < dim) { pooled(i) /= rows.length; i += 1 }
    pooled
  }

  /** Element-wise mean of a point's vector set — the pooled
    * representation the multi-vector ANN candidate stage indexes (the
    * query side pools in [[fromOptions]]). Empty sets pool to None:
    * they MaxSim-score 0.0 against any query and are dropped from the
    * index (they can only rank above an all-negative corpus).
    */
  def meanPool(m: Array[Array[Float]]): Option[Array[Double]] =
    if (m.isEmpty) None
    else {
      val dim = m(0).length
      val acc = new Array[Double](dim)
      m.foreach { r =>
        var i = 0
        while (i < dim && i < r.length) { acc(i) += r(i).toDouble; i += 1 }
      }
      var i = 0
      while (i < dim) { acc(i) /= m.length; i += 1 }
      Some(acc)
    }
}

/** One `must` condition of the backend's filter DSL, evaluated
  * STORE-SIDE over a point's payload — the other half of the filter
  * vocabulary next to the id set / keyset bound: `eq` is the backend's
  * `match` (keyword / integer / bool equality), `gt`/`gte`/`lt`/`lte`
  * its numeric `range`. `key` addresses a TOP-LEVEL payload field.
  *
  * Decisive semantics (a filter must admit or reject, never null out):
  * an absent payload, absent key, null value, or non-scalar value
  * matches NOTHING; a range op over a non-numeric value matches
  * nothing. `eq` compares numerically when both sides are numbers
  * (payload `3` matches value "3" and "3.0"), as strings otherwise.
  */
final case class PayloadCondition(key: String, op: String, value: String) {
  require(PayloadCondition.Ops(op),
    s"filter op must be one of ${PayloadCondition.Ops.mkString("/")}, got '$op'")
  require(key.nonEmpty, "filter key must be non-empty")

  // the value with escape pairs resolved — every terminal comparison /
  // parse runs on this form (the option encoding's escape contract)
  private val uvalue: String = PayloadCondition.unescapeValue(value)

  // `key:eq:"3"` — quoted probe: STRING-typed equality, never numeric
  private val strProbe: Option[String] =
    if (op == "eq") PayloadCondition.unquote(uvalue) else None

  private val numValue: Option[Double] =
    if (strProbe.isDefined) None
    else try Some(java.lang.Double.parseDouble(uvalue))
    catch { case _: Exception => None }

  // match_any alternatives, split once (escape-aware); each compares
  // with eq typing — a QUOTED alternative is string-typed like eq's
  private val anyValues: Seq[String] =
    if (op == "match_any")
      PayloadCondition.splitUnescaped(value, '|')
        .map(PayloadCondition.unescapeValue)
    else Nil
  private val anyNums: Seq[Double] = anyValues.flatMap(v =>
    if (PayloadCondition.unquote(v).isDefined) None
    else try Some(java.lang.Double.parseDouble(v))
    catch { case _: Exception => None })
  // string-typed alternatives: quoted (stripped) or non-numeric
  private val anyStrs: Seq[String] = anyValues.flatMap(v =>
    PayloadCondition.unquote(v).orElse(
      try { java.lang.Double.parseDouble(v); None }
      catch { case _: Exception => Some(v) }))

  // match_text / phrase query tokens (case-folded whitespace split, the
  // engine's shared tokenizer convention); sources-visible so a text
  // index can generate candidates with THE SAME tokens the row path
  // evaluates
  private[sources] val textTokens: Seq[String] =
    if (op == "match_text" || op == "phrase")
      uvalue.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    else Nil

  // values_count comparator: value is `cmp:n` (cmp in gt/gte/lt/lte/eq)
  private val countCmp: Option[(String, Long)] =
    if (op != "values_count") None
    else uvalue.split(":", 2) match {
      case Array(c, n) if Set("gt", "gte", "lt", "lte", "eq")(c) =>
        Some((c, n.trim.toLong))
      case _ => throw new IllegalArgumentException(
        s"values_count expects cmp:n (cmp in gt/gte/lt/lte/eq), got '$value'")
    }

  // datetime bound, parsed once (RFC 3339 with offset, local datetime,
  // or plain date — the backend's datetime_range accepted forms)
  private val dtBound: Option[Long] =
    if (!op.startsWith("dt_")) None
    else Some(PayloadCondition.parseDatetime(uvalue).getOrElse(
      throw new IllegalArgumentException(
        s"$op expects an RFC 3339 datetime or date, got '$value'")))

  // geo arguments: geo_radius = `lat,lon,meters`; geo_box =
  // `top,left,bottom,right` (the backend's top_left + bottom_right);
  // geo_polygon = `lat1,lon1,lat2,lon2,...` (the exterior ring's
  // vertices, >= 3 — the backend's polygon condition without interiors)
  private val geoArgs: Array[Double] =
    if (op != "geo_radius" && op != "geo_box" && op != "geo_polygon")
      Array.empty
    else {
      val xs = uvalue.split(",").map(s => java.lang.Double.parseDouble(s.trim))
      if (op == "geo_polygon")
        require(xs.length >= 6 && xs.length % 2 == 0,
          s"geo_polygon expects >= 3 lat,lon vertex pairs, got '$value'")
      else {
        val want = if (op == "geo_radius") 3 else 4
        require(xs.length == want,
          s"$op expects $want comma-separated numbers, got '$value'")
      }
      xs
    }

  // nested sub-conditions: `subkey|op|val` joined by `&` — ALL must hold
  // on the SAME array element (the backend's nested condition, restricted
  // to scalar sub-ops; a full recursive filter would need a structured
  // encoding the key:op:value wire triple doesn't carry)
  private val nestedConds: Seq[PayloadCondition] =
    if (op != "nested") Nil
    else PayloadCondition.splitUnescaped(value, '&').map { part =>
      // escape-aware: `\&`/`\|` in a sub-value survive both splits and
      // resolve in the sub-condition's own terminal unescape; a raw '|'
      // past the op joins back into the value (the limit-3 convention)
      val bits = PayloadCondition.splitUnescaped(part, '|')
      if (bits.length >= 3 && PayloadCondition.NestedOps(bits(1).trim))
        PayloadCondition(bits(0).trim, bits(1).trim, bits.drop(2).mkString("|"))
      else if (bits.length >= 3) throw new IllegalArgumentException(
        s"nested sub-op must be one of ${PayloadCondition.NestedOps.mkString("/")}, got '${bits(1)}'")
      else throw new IllegalArgumentException(
        s"bad nested sub-condition '$part' (expected subkey|op|value)")
    }
  require(op != "nested" || nestedConds.nonEmpty,
    "nested needs at least one sub-condition")

  def describe: String = s"$key $op $value"

  def matches(p: Point): Boolean = {
    import org.json4s._
    // HasVector inspects the point's vector fields, not the payload:
    // `key` names the vector field (heterogeneous collections carry
    // disjoint subsets; value is unused)
    if (op == "has_vector")
      return p.dense.contains(key) || p.multi.contains(key) ||
        p.sparse.contains(key)
    // the field's JSON value, when the payload exists and parses; an
    // unparseable payload reads as "no fields" (decisive, never throws)
    val field: Option[JValue] = p.payload
      .flatMap(j => org.json4s.jackson.JsonMethods.parseOpt(j))
      .map(_ \ key)
    matchesValue(field)
  }

  /** Evaluate against an already-extracted field value — the shared body
    * of [[matches]] and the nested condition's per-element evaluation.
    */
  private[sources] def matchesValue(field: Option[org.json4s.JValue]): Boolean = {
    import org.json4s._
    op match {
      // IsEmpty: missing payload, missing key, null, or [] all match
      case "empty" =>
        field.forall(v => v == JNothing || v == JNull || v == JArray(Nil))
      // IsNull: the key is PRESENT with a null value (stricter than empty)
      case "isnull" => field.exists(_ == JNull)
      // ValuesCount: the number of values under the key — array length,
      // 1 for a present scalar; a missing/null key matches nothing (the
      // backend's values_count does not treat absence as 0)
      case "values_count" => field.exists {
        case JNothing | JNull => false
        case JArray(xs) => countOk(xs.length.toLong)
        case _ => countOk(1L)
      }
      // DatetimeRange bound: payload value must be a parseable datetime
      // string; unparseable or non-string values match nothing
      case "dt_gt" | "dt_gte" | "dt_lt" | "dt_lte" => field.exists {
        case JString(s) => PayloadCondition.parseDatetime(s).exists { t =>
          val b = dtBound.get
          op match {
            case "dt_gt" => t > b
            case "dt_gte" => t >= b
            case "dt_lt" => t < b
            case _ => t <= b
          }
        }
        case _ => false
      }
      // GeoRadius / GeoBoundingBox: the field is a {lat, lon} object (the
      // backend's geo point payload shape); haversine term-for-term the
      // same IEEE ops as `functions.v_geo_distance` / `Geo.inBoundingBox`
      case "geo_radius" => field.exists(v =>
        PayloadCondition.latLonOf(v).exists { case (la, lo) =>
          PayloadCondition.haversineMeters(geoArgs(0), geoArgs(1), la, lo) <=
            geoArgs(2)
        })
      case "geo_box" => field.exists(v =>
        PayloadCondition.latLonOf(v).exists { case (la, lo) =>
          val (top, left, bottom, right) =
            (geoArgs(0), geoArgs(1), geoArgs(2), geoArgs(3))
          // left > right is the antimeridian-crossing box (the backend's
          // wrap convention): the longitude test becomes the OR of arcs
          val lonIn =
            if (left <= right) lo >= left && lo <= right
            else lo >= left || lo <= right
          la >= bottom && la <= top && lonIn
        })
      // GeoPolygon: ray-cast against the vertex list — term-for-term the
      // IEEE ops of graft.ops.Geo.pointInPolygon (and its generated
      // DuckDB SQL), so all three layouts decide boundaries identically
      case "geo_polygon" => field.exists(v =>
        PayloadCondition.latLonOf(v).exists { case (la, lo) =>
          PayloadCondition.inPolygon(la, lo, geoArgs)
        })
      // Nested: ONE array element satisfies ALL sub-conditions (the
      // backend's nested condition — per-element scoping is the whole
      // point; evaluating sub-conditions independently across elements
      // would accept rows no single element justifies)
      case "nested" => field.exists {
        case JArray(elems) => elems.exists {
          case o: JObject =>
            nestedConds.forall(c => c.matchesValue(Some(o \ c.key)))
          case _ => false
        }
        case _ => false
      }
      case _ => field.exists {
        case JString(s) => op match {
          // typed eq: an unquoted numeric probe never matches a string;
          // a QUOTED probe (`"3"`) is string equality on the raw form
          case "eq" => strProbe match {
            case Some(q) => s == q
            case None => numValue.isEmpty && s == uvalue
          }
          // MatchAny: keyword IN — any alternative equal (typed per
          // element like eq, so "2|x" matches string "x" but not "2",
          // and the quoted `"2"|x` matches both strings)
          case "match_any" => anyStrs.contains(s)
          // MatchText: every query token appears among the field's
          // case-folded whitespace tokens (the backend's full-text
          // match on a text field)
          case "match_text" =>
            val toks = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
            textTokens.nonEmpty && textTokens.forall(toks)
          // MatchPhrase: the query tokens appear CONSECUTIVELY in the
          // field's token sequence (match_text's unordered bag is not
          // enough for quoted-phrase semantics)
          case "phrase" =>
            val toks = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
            textTokens.nonEmpty && toks.length >= textTokens.length &&
              toks.sliding(textTokens.length).exists(_ == textTokens)
          case _ => false
        }
        case JBool(b) =>
          // quoted alternatives/probes keep their quotes in anyValues/
          // uvalue comparison space, so they can never match a bool —
          // string-typed by construction
          (op == "eq" && strProbe.isEmpty && b.toString == uvalue) ||
            (op == "match_any" && anyValues.contains(b.toString))
        case JInt(i) => numMatch(i.toDouble)
        case JLong(l) => numMatch(l.toDouble)
        case JDouble(d) => numMatch(d)
        case JDecimal(d) => numMatch(d.toDouble)
        case _ => false // absent, null, array, object
      }
    }
  }

  private def countOk(n: Long): Boolean = countCmp.exists {
    case ("gt", b) => n > b
    case ("gte", b) => n >= b
    case ("lt", b) => n < b
    case ("lte", b) => n <= b
    case (_, b) => n == b
  }

  private def numMatch(x: Double): Boolean = op match {
    case "match_any" => anyNums.exists(_ == x)
    case "gt" => numValue.exists(x > _)
    case "gte" => numValue.exists(x >= _)
    case "lt" => numValue.exists(x < _)
    case "lte" => numValue.exists(x <= _)
    case "eq" => numValue.exists(_ == x)
    case _ => false
  }
}

object PayloadCondition {
  val Ops: Set[String] = Set("eq", "gt", "gte", "lt", "lte",
    "match_any", "match_text", "empty", "isnull",
    "values_count", "has_vector", "dt_gt", "dt_gte", "dt_lt", "dt_lte",
    "phrase", "geo_radius", "geo_box", "geo_polygon", "nested")

  /** Sub-ops a nested condition may carry (the `subkey|op|value` mini
    * syntax reserves `|` and `&`, which match_any / nested values use).
    */
  val NestedOps: Set[String] = Set("eq", "gt", "gte", "lt", "lte",
    "empty", "isnull")

  /** Datetime string -> epoch micros: RFC 3339 with offset, local
    * datetime (UTC-assumed, the engine's session convention), or plain
    * date at midnight. None when unparseable (decisive filters).
    */
  def parseDatetime(s: String): Option[Long] = {
    import java.time._
    def micros(i: Instant): Long =
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L)
    try Some(micros(OffsetDateTime.parse(s).toInstant)) catch {
      case _: Exception =>
        try Some(micros(LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)))
        catch {
          case _: Exception =>
            try Some(micros(LocalDate.parse(s).atStartOfDay
              .toInstant(ZoneOffset.UTC)))
            catch { case _: Exception => None }
        }
    }
  }

  /** A payload geo value -> (lat, lon): the backend's `{lat, lon}` object
    * form. Anything else (missing members, non-numeric) matches nothing.
    */
  def latLonOf(v: org.json4s.JValue): Option[(Double, Double)] = {
    import org.json4s._
    def num(j: JValue): Option[Double] = j match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JLong(l) => Some(l.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case _ => None
    }
    for { la <- num(v \ "lat"); lo <- num(v \ "lon") } yield (la, lo)
  }

  /** Ray-casting point-in-polygon over a flat `lat1,lon1,lat2,lon2,...`
    * vertex array — the same per-edge arithmetic as
    * [[graft.ops.Geo.pointInPolygon]] ((x2-x1) pre-computed, crossings
    * summed, parity decides), so the stored filter and the engine
    * expression agree bit-for-bit on edges.
    */
  def inPolygon(lat: Double, lon: Double, poly: Array[Double]): Boolean = {
    val n = poly.length / 2
    var crossings = 0
    var i = 0
    while (i < n) {
      val y1 = poly(2 * i); val x1 = poly(2 * i + 1)
      val j = (i + 1) % n
      val y2 = poly(2 * j); val x2 = poly(2 * j + 1)
      if (((y1 > lat) != (y2 > lat)) &&
          (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)) crossings += 1
      i += 1
    }
    crossings % 2 == 1
  }

  /** Haversine meters — term-for-term the float ops of
    * `functions.v_geo_distance` (SqlBuilders.geoDistance) so the stored
    * filter and the engine expression decide boundaries identically.
    */
  def haversineMeters(lat1: Double, lon1: Double,
                      lat2: Double, lon2: Double): Double = {
    val d2r = math.Pi / 180.0
    val dLat = (lat2 - lat1) * d2r
    val dLon = (lon2 - lon1) * d2r
    val h = math.pow(math.sin(dLat / 2.0), 2.0) +
      math.cos(lat1 * d2r) * math.cos(lat2 * d2r) *
        math.pow(math.sin(dLon / 2.0), 2.0)
    2 * 6371000.0 * math.asin(math.sqrt(h))
  }

  /** The read-option / display encoding: `key:op:value` conditions
    * joined by `;` (a conjunction — the filter DSL's `must` list).
    * Values may contain `:`; keys may not. RESERVED characters in
    * values: `;` (condition separator), `|` (match_any alternative /
    * nested sub-condition field separator), `&` (nested sub-condition
    * separator), `\` (the escape). A literal reserved character is
    * written backslash-escaped (`\;` `\|` `\&` `\\`); escapes resolve at
    * the innermost consumption point, so an escaped separator survives
    * the outer splits. [[serializeList]] escapes; hand-authored option
    * strings follow the same rule.
    */
  def parseList(s: String): Seq[PayloadCondition] =
    splitUnescaped(s, ';').map(_.trim).filter(_.nonEmpty).map { part =>
      part.split(":", 3) match {
        case Array(k, o, v) => PayloadCondition(k.trim, o.trim, v)
        case _ => throw new IllegalArgumentException(
          s"bad filter condition '$part' (expected key:op:value)")
      }
    }

  def serializeList(conds: Seq[PayloadCondition]): String =
    conds.map(c => s"${c.key}:${c.op}:${escapeValue(c.value)}").mkString(";")

  /** Escape the reserved characters of the option encoding. */
  private[sources] def escapeValue(s: String): String =
    s.flatMap {
      case c @ (';' | '|' | '&' | '\\') => s"\\$c"
      case c => c.toString
    }

  /** Resolve `\x` escape pairs (terminal consumption of a value). */
  private[sources] def unescapeValue(s: String): String = {
    val sb = new StringBuilder; var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** Split on an UNESCAPED separator; escape pairs pass through intact
    * (each level of the encoding splits on its own separator and leaves
    * inner escapes for the consumer).
    */
  private[sources] def splitUnescaped(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]; val sb = new StringBuilder; var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '\\' && i + 1 < s.length) {
        sb.append(ch).append(s.charAt(i + 1)); i += 2
      } else if (ch == sep) { out += sb.toString; sb.clear(); i += 1 }
      else { sb.append(ch); i += 1 }
    }
    out += sb.toString
    out.result()
  }

  /** One layer of double quotes -> a STRING-TYPED probe (`key:eq:"3"`):
    * equality on the raw string, never numeric — the only way to express
    * string equality against numeric-looking keyword values (unquoted
    * numeric probes are number-typed by the eq rule).
    */
  private[sources] def unquote(s: String): Option[String] =
    if (s.length >= 2 && s.startsWith("\"") && s.endsWith("\""))
      Some(s.substring(1, s.length - 1))
    else None
}

/** The backend's full filter object: `must` (every condition holds),
  * `must_not` (none holds — a point whose field is ABSENT passes, the
  * backend's negation convention), and `min_should` (at least
  * `min_count` of the conditions hold — the wire form of the engine's
  * `functions.min_should`). All three clauses conjoin.
  */
final case class PayloadFilter(
    must: Seq[PayloadCondition] = Nil,
    mustNot: Seq[PayloadCondition] = Nil,
    minShould: Option[(Int, Seq[PayloadCondition])] = None) {
  minShould.foreach { case (n, cs) =>
    require(n >= 1 && cs.nonEmpty && n <= cs.length,
      s"min_should needs 1 <= min_count <= |conditions|, got $n of ${cs.length}")
  }

  def isEmpty: Boolean = must.isEmpty && mustNot.isEmpty && minShould.isEmpty
  def nonEmpty: Boolean = !isEmpty

  def matches(p: Point): Boolean =
    must.forall(_.matches(p)) &&
      mustNot.forall(c => !c.matches(p)) &&
      minShould.forall { case (n, cs) => cs.count(_.matches(p)) >= n }

  /** Vector fields the filter must SEE to evaluate (`has_vector`
    * conditions inspect field presence): stores widen their internal
    * fetch by these, whatever the caller's narrowing.
    */
  def vectorFieldsNeeded: Seq[String] =
    (must ++ mustNot ++ minShould.toSeq.flatMap(_._2))
      .filter(_.op == "has_vector").map(_.key).distinct

  def describe: String = {
    val parts =
      (if (must.isEmpty) Nil
       else Seq(must.map(_.describe).mkString(" AND "))) ++
        mustNot.map(c => s"NOT ${c.describe}") ++
        minShould.map { case (n, cs) =>
          s"$n of (${cs.map(_.describe).mkString(", ")})"
        }
    parts.mkString(" AND ")
  }
}

object PayloadFilter {
  val Empty: PayloadFilter = PayloadFilter()

  def mustAll(conds: Seq[PayloadCondition]): PayloadFilter =
    PayloadFilter(must = conds)

  /** The read-option encoding: `filter` = must conjunction, `filter.not`
    * = must_not list, `filter.minShould` = `min_count|cond;cond;...`
    * (all three in [[PayloadCondition.parseList]] syntax).
    */
  def fromOptions(o: CaseInsensitiveStringMap): PayloadFilter = {
    val must = Option(o.get("filter"))
      .map(PayloadCondition.parseList).getOrElse(Nil)
    val not = Option(o.get("filter.not"))
      .map(PayloadCondition.parseList).getOrElse(Nil)
    val ms = Option(o.get("filter.minShould")).map { s =>
      s.split("\\|", 2) match {
        case Array(n, conds) =>
          (n.trim.toInt, PayloadCondition.parseList(conds))
        case _ => throw new IllegalArgumentException(
          s"bad filter.minShould '$s' (expected min_count|key:op:value;...)")
      }
    }
    PayloadFilter(must, not, ms)
  }
}

/** The ranked-full-text query (read options `textrank.*`) and the BM25
  * scorer every backend shares: the parquet store's sidecar path and the
  * trait's one-pass default both hand (tf, dl, df, N, Σdl) to [[rank]],
  * so backends differ in WHAT THEY READ, never in arithmetic — the same
  * discipline as [[SearchSpec.score]].
  */
final case class TextRankSpec(key: String, terms: Seq[String], k: Int) {
  def describe: String = s"$key bm25(${terms.mkString(",")}) top $k"
}

/** Mergeable BM25 inputs (see [[CollectionStore.textRankPartials]]):
  * `dfs` aligns to the query's term order; `docs` = (id, per-term tf,
  * dl) for every point containing >= 1 term.
  */
final case class TextRankPartials(n: Long, totalLen: Long,
                                  dfs: Array[Long],
                                  docs: Seq[(String, Array[Long], Long)])

/** Corpus-level BM25 statistics — phase 1 of the TWO-PHASE distributed
  * rank (see [[CollectionStore.textRankTopK]]): a few dozen bytes
  * however large the corpus. `dfs` aligns to the query's term order;
  * stats SUM across shards (disjoint placement).
  */
final case class TextRankStats(n: Long, totalLen: Long, dfs: Array[Long]) {
  def merged(other: TextRankStats): TextRankStats = {
    require(dfs.length == other.dfs.length, "term arity mismatch")
    val out = new Array[Long](dfs.length)
    var i = 0
    while (i < out.length) { out(i) = dfs(i) + other.dfs(i); i += 1 }
    TextRankStats(n + other.n, totalLen + other.totalLen, out)
  }
}

object TextRank {
  val ScoreCol = "_score"

  def fromOptions(o: CaseInsensitiveStringMap): Option[TextRankSpec] =
    Option(o.get("textrank.key")).map { key =>
      val terms = Option(o.get("textrank.terms")).getOrElse(
        throw new IllegalArgumentException(
          "textrank.key requires textrank.terms (comma-joined)"))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      TextRankSpec(key, terms, o.getInt("textrank.k", 10))
    }

  private[sources] def validate(terms: Seq[String], k: Int): Unit = {
    require(terms.nonEmpty, "text rank needs at least one term")
    require(terms.distinct == terms,
      s"duplicate query terms would double-count their score contribution: $terms")
    require(k > 0, s"text rank k must be positive, got $k")
  }

  /** Phase-2 input validation: `global.dfs` must align 1:1 with the
    * query terms, or the scorer indexes past the idf array on the first
    * matching candidate — a caller/wire-frame bug that must surface as
    * a clean argument error (400 over the wires), not an
    * ArrayIndexOutOfBoundsException mid-scoring.
    */
  private[sources] def validateStats(terms: Seq[String],
                                     global: TextRankStats): Unit =
    require(global.dfs.length == terms.length,
      s"global stats carry ${global.dfs.length} dfs for ${terms.length} " +
        s"terms — phase-1 stats must be computed for exactly the phase-2 terms")

  /** Spark's `round(col, 4)` exactly (BigDecimal HALF_UP), so store-served
    * scores hash-match the engine-side [[graft.ops.TextIndex.searchPostings]].
    */
  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Score + rank: `docs` = (id, per-term tf, dl) for every point with at
    * least one query term; `dfs` per-term document frequencies over the
    * WHOLE collection; `n`/`totalLen` corpus stats. The arithmetic is
    * [[graft.ops.TextIndex.searchPostings]]'s column expression replayed
    * scalar-side in the same operation order (left-to-right term sum,
    * avglen = Σdl/N as one double division), so the two paths agree bit
    * for bit.
    */
  private[sources] def rank(docs: Seq[(String, Array[Long], Long)],
                            dfs: Array[Long], n: Long, totalLen: Long,
                            k1: Double, b: Double,
                            k: Int): Seq[(String, Double)] = {
    if (n == 0L || docs.isEmpty) return Nil
    val avglen = totalLen.toDouble / n.toDouble
    val nD = n.toDouble
    val idfs = dfs.map { df =>
      val dfD = df.toDouble
      math.log(1.0 + (nD - dfD + 0.5) / (dfD + 0.5))
    }
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val scored = docs.map { case (id, tfs, dl) =>
      val dlD = dl.toDouble
      var s = 0.0
      var i = 0
      while (i < tfs.length) {
        val tf = tfs(i).toDouble
        s += idfs(i) * (tf * k1p1) / (tf + k1 * (oneMinusB + b * dlD / avglen))
        i += 1
      }
      (id, round4(s))
    }
    scored.sortWith { case ((ia, sa), (ib, sb)) =>
      if (sa != sb) sa > sb else SparkStringOrder.lt(ia, ib)
    }.take(k)
  }
}

/** The "remote collection service" abstraction — the analog of the
  * reference's `Arc<Qdrant>` gRPC client (/root/reference/src/table.rs:84).
  * `queryPoints` receives the NARROWED fetch spec exactly like the
  * reference's scan builds `with_vectors`/`with_payload` selectors
  * (/root/reference/src/table.rs:279-298, src/utils.rs:53-83): a store
  * implementation must not ship un-requested payload/vectors.
  */
trait CollectionStore extends Serializable {
  def collectionInfo(collection: String): CollectionDescriptor
  def pointCount(collection: String): Long

  /** Names of the collections this store serves — the catalog listing
    * (the reference exposes this as the client's `list_collections`).
    * Optional: a store that cannot enumerate (e.g. a single-collection
    * client) reports none and is usable only by explicit name.
    */
  def collectionNames: Seq[String] = Seq.empty
  /** Fetch points [from, until) with only the requested pieces populated.
    * `idFilter`, when set, restricts to those point ids (the pushed
    * `id = x` / `id IN (...)` predicate — the reference declares filter
    * pushdown but ignores it, /root/reference/src/table.rs:174; here the
    * store really skips non-matching points). `idLower`, when set, is the
    * pushed keyset bound `id > last` (strict, lexicographic): a backend
    * with an id-ordered layout serves it as a range SEEK, not a
    * scan-and-discard — page cost stays flat however deep the scroll
    * goes. Both filters apply BEFORE `limit`.
    */
  def queryPoints(collection: String, from: Long, until: Long,
                  withPayload: Boolean, vectorFields: Seq[String],
                  limit: Option[Int],
                  idFilter: Option[Set[String]] = None,
                  idLower: Option[String] = None): Iterator[Point]

  /** COUNT of the points a filtered scan would produce — the backend's
    * `points/count` API with `exact: true`: id-set and keyset-lower
    * conditions compose exactly like [[queryPoints]]'s. Default: walk
    * the narrowed slice with payload/vectors off and count (O(matching
    * ids), nothing decoded); a capable backend answers from its id
    * index in one call — the wire client ships ONE request either way.
    */
  def countMatching(collection: String,
                    idFilter: Option[Set[String]] = None,
                    idLower: Option[String] = None): Long = {
    val it = queryPoints(collection, 0L, pointCount(collection),
      withPayload = false, vectorFields = Nil, limit = None,
      idFilter = idFilter, idLower = idLower)
    var n = 0L
    while (it.hasNext) { it.next(); n += 1 }
    n
  }

  /** [[queryPoints]] narrowed further by payload `must` conditions —
    * the backend's filtered scroll. Default: fetch WITH payload (the
    * conditions need it), evaluate client-side, then honor the caller's
    * narrowing by stripping payloads it did not ask for; `limit` applies
    * AFTER the conditions (filter-then-limit, like the id filters). A
    * capable backend overrides this to evaluate the conditions
    * server-side — the wire client ships them in the scroll filter and
    * only matching points cross the network.
    */
  def queryPointsFiltered(collection: String, from: Long, until: Long,
                          withPayload: Boolean, vectorFields: Seq[String],
                          limit: Option[Int],
                          idFilter: Option[Set[String]] = None,
                          idLower: Option[String] = None,
                          pfilter: PayloadFilter = PayloadFilter.Empty): Iterator[Point] =
    if (pfilter.isEmpty)
      queryPoints(collection, from, until, withPayload, vectorFields, limit,
        idFilter, idLower)
    else {
      // has_vector conditions inspect vector-field PRESENCE: the
      // internal fetch widens to include them, the caller's narrowing
      // is restored on the way out (same contract as the payload)
      val needVf = pfilter.vectorFieldsNeeded.filterNot(vectorFields.contains)
      val matching = queryPoints(collection, from, until,
          withPayload = true, vectorFields ++ needVf, None, idFilter, idLower)
        .filter(pfilter.matches)
      val stripped =
        if (needVf.isEmpty) matching
        else matching.map(FetchSpec.narrowed(_, vectorFields))
      val narrowed =
        if (withPayload) stripped else stripped.map(_.copy(payload = None))
      limit.fold(narrowed)(n => narrowed.take(n))
    }

  /** [[countMatching]] with payload conditions — the backend's filtered
    * count (`exact: true`) in its full-filter form. Default walks the
    * filtered iterator with vectors off; the wire client answers in one
    * round trip instead.
    */
  def countMatchingFiltered(collection: String,
                            idFilter: Option[Set[String]] = None,
                            idLower: Option[String] = None,
                            pfilter: PayloadFilter = PayloadFilter.Empty): Long =
    if (pfilter.isEmpty) countMatching(collection, idFilter, idLower)
    else {
      val it = queryPointsFiltered(collection, 0L, pointCount(collection),
        withPayload = false, vectorFields = Nil, limit = None,
        idFilter = idFilter, idLower = idLower, pfilter = pfilter)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }

  /** Serve a pushed top-k vector query (see [[SearchSpec]]): the best `k`
    * points of `collection` under the spec's metric, best-first with id
    * tiebreak, each paired with its raw score. Only the requested payload/
    * vector pieces are populated (same narrowing contract as
    * [[queryPoints]]). Default: a brute-force streaming top-k over
    * `queryPoints` (O(n log k) heap, never materializes the collection) —
    * every store supports search; a capable backend overrides this with
    * its ANN index, exactly as the reference's backend serves `QueryPoints`
    * from HNSW (/root/reference/src/table.rs:279-302).
    */
  def searchPoints(collection: String, spec: SearchSpec,
                   withPayload: Boolean,
                   vectorFields: Seq[String]): Seq[(Point, Double)] =
    searchPointsFiltered(collection, spec, withPayload, vectorFields,
      PayloadFilter.Empty)

  /** [[searchPoints]] restricted to points passing payload `must`
    * conditions — the backend's FILTERED vector search, its defining
    * query form (`query_points` with both `query` and `filter`): the
    * filter applies BEFORE ranking, so the result is the true top-k of
    * the matching subset, not a post-filtered page of the global top-k
    * (which could come up short). Default evaluates the conditions in
    * the same streaming pass that scores; the wire client ships them
    * with the query and the service filters server-side.
    */
  def searchPointsFiltered(collection: String, spec: SearchSpec,
                           withPayload: Boolean, vectorFields: Seq[String],
                           pfilter: PayloadFilter): Seq[(Point, Double)] = {
    val desc = SearchSpec.descending(spec.metric)
    // worst-first ordering for the bounded heap: the head is the candidate
    // to evict. Ties prefer evicting the LATER id (so earlier ids win).
    val worstFirst = new Ordering[(Point, Double)] {
      def compare(x: (Point, Double), y: (Point, Double)): Int = {
        val byScore =
          if (desc) java.lang.Double.compare(x._2, y._2)
          else java.lang.Double.compare(y._2, x._2)
        if (byScore != 0) byScore
        else {
          // later id = worse; UTF-8 byte order (Spark string semantics)
          if (SparkStringOrder.gt(x._1.id, y._1.id)) -1
          else if (SparkStringOrder.gt(y._1.id, x._1.id)) 1
          else 0
        }
      }
    }
    val heap = new scala.collection.mutable.PriorityQueue[(Point, Double)]()(
      worstFirst.reverse)
    // the heap holds the PAGE WINDOW: offset skipped rows + k returned
    // (the backend's search pagination — offset is a deeper top, not a
    // second scan); threshold filters BEFORE insertion so below-cut
    // points never occupy capacity
    val capacity = spec.k + spec.offset
    val fetchFields = (vectorFields :+ spec.field).distinct
    // dense vs sparse vs multi comparator, dispatched once (a sparse
    // spec scores the (indices, values) pair with the sorted-merge
    // kernel; a multi spec scores the vector set with the MaxSim kernel)
    val scoreOf: Point => Option[Double] = spec.multiQuery match {
      case Some(qm) => p => p.multi.get(spec.field)
        .map(dm => SearchSpec.scoreMulti(dm, qm))
      case None => spec.sparseIndices match {
        case Some(qi) => p => p.sparse.get(spec.field).flatMap {
          case (di, dv) => SearchSpec.scoreSparse(di, dv, qi, spec.query)
        }
        case None => p => p.dense.get(spec.field).flatMap(v =>
          SearchSpec.score(spec.metric, v, spec.query))
      }
    }
    queryPointsFiltered(collection, 0L, pointCount(collection), withPayload,
        fetchFields, None, pfilter = pfilter)
      .foreach { p =>
        scoreOf(p).filter(spec.passes).foreach { s =>
          if (heap.size < capacity) heap.enqueue((p, s))
          else if (worstFirst.compare((p, s), heap.head) > 0) {
            heap.dequeue(); heap.enqueue((p, s))
          }
        }
      }
    val drained: List[(Point, Double)] = heap.dequeueAll.toList
    // drop the scored field if the fetch spec did not request it
    drained.reverse.drop(spec.offset).map { case (p, s) =>
      (FetchSpec.narrowed(p, vectorFields), s)
    }
  }

  /** FACET over a payload key (the backend's `/points/facet` API):
    * exact counts of each distinct scalar value of top-level `key`
    * across the collection, top `limit` by count desc (value ascending
    * — Spark string order — on ties). Values render as the engine's
    * `json_get` renders scalars (numbers/bools unquoted, strings raw);
    * points without the key, with a null value, or with a non-scalar
    * value carry no hit. Default: one payload-only pass over
    * [[queryPoints]] (the exact-facet semantics); a capable backend
    * serves this from its payload index — [[graft.ops.Planner]]'s
    * index stats are precisely this table.
    */
  def facetCounts(collection: String, key: String, limit: Int,
                  pfilter: PayloadFilter = PayloadFilter.Empty): Seq[(String, Long)] = {
    require(limit > 0, s"facet limit must be positive, got $limit")
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    queryPointsFiltered(collection, 0L, pointCount(collection),
        withPayload = true, Seq.empty, None, pfilter = pfilter)
      .foreach { p =>
        FacetValue.of(p.payload, key).foreach { v =>
          counts.update(v, counts.getOrElse(v, 0L) + 1L)
        }
      }
    counts.toSeq.sortWith { case ((v1, n1), (v2, n2)) =>
      if (n1 != n2) n1 > n2 else SparkStringOrder.lt(v1, v2)
    }.take(limit)
  }

  /** EXACT counts of the GIVEN rendered facet values of `key` — the
    * targeted second pass of a distributed threshold merge (see
    * [[ShardedCollectionStore.facetCounts]]): the caller already knows
    * WHICH values are in contention and needs their counts on this
    * store only. Values render exactly as [[facetCounts]] renders them;
    * values this store never carries are simply absent from the result
    * (count 0). The same `pfilter` as the page calls narrows which
    * points count. Default: one payload pass counting only `values`; a
    * capable backend answers from its payload index.
    */
  def facetCountsFor(collection: String, key: String,
                     values: Set[String],
                     pfilter: PayloadFilter = PayloadFilter.Empty): Map[String, Long] = {
    if (values.isEmpty) return Map.empty
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    queryPointsFiltered(collection, 0L, pointCount(collection),
        withPayload = true, Seq.empty, None, pfilter = pfilter)
      .foreach { p =>
        FacetValue.of(p.payload, key).filter(values).foreach { v =>
          counts.update(v, counts.getOrElse(v, 0L) + 1L)
        }
      }
    counts.toMap
  }

  /** BM25-ranked full-text top-k over payload key `key` — the ranked
    * face of the `text` payload index (qdrant's full-text index serves
    * matches; ranking is the retrieval composition layered on it —
    * [[graft.ops.TextIndex.searchPostings]]'s semantics at the store
    * seam): tokens are the case-folded whitespace split (the match_text
    * convention), score = Σ_terms idf·tf(k1+1)/(tf + k1((1−b) + b·dl/avg))
    * with idf = ln(1 + (N−df+0.5)/(df+0.5)), rounded to 4dp, ranked by
    * (rounded score desc, id asc); only points containing ≥ 1 term rank.
    * Default: one payload pass builds (tf, dl) per point and the corpus
    * stats; a capable backend serves from its postings sidecar reading
    * only the query terms' token buckets.
    */
  def searchTextRanked(collection: String, key: String, terms: Seq[String],
                       k: Int, k1: Double = 1.2,
                       b: Double = 0.75): Seq[(String, Double)] = {
    TextRank.validate(terms, k)
    val p = textRankPartials(collection, key, terms)
    TextRank.rank(p.docs, p.dfs, p.n, p.totalLen, k1, b, k)
  }

  /** The BM25 INPUTS of [[searchTextRanked]] as MERGEABLE partials —
    * the distributed-retrieval seam: corpus stats (N, Σdl) and per-term
    * dfs SUM across shards, candidate doc rows concatenate (an id lives
    * on one shard), and the global rank is then exact wherever the
    * merge happens. Default: one payload pass; a capable backend serves
    * from its postings sidecar; a sharded store merges its members'
    * partials.
    */
  def textRankPartials(collection: String, key: String,
                       terms: Seq[String]): TextRankPartials = {
    import org.json4s._
    val nt = terms.length
    var n = 0L
    var totalLen = 0L
    val dfs = new Array[Long](nt)
    val docs = Seq.newBuilder[(String, Array[Long], Long)]
    queryPoints(collection, 0L, pointCount(collection),
        withPayload = true, Seq.empty, None)
      .foreach { p =>
        n += 1
        val toks: Array[String] = p.payload.flatMap(j =>
          org.json4s.jackson.JsonMethods.parseOpt(j).flatMap(v =>
            v \ key match {
              case JString(s) =>
                Some(s.toLowerCase.split("\\s+").filter(_.nonEmpty))
              case _ => None
            })).getOrElse(Array.empty[String])
        totalLen += toks.length
        val tfs = new Array[Long](nt)
        var any = false
        toks.foreach { t =>
          val i = terms.indexOf(t)
          if (i >= 0) { tfs(i) += 1L; any = true }
        }
        if (any) {
          docs += ((p.id, tfs, toks.length.toLong))
          var i = 0
          while (i < nt) { if (tfs(i) > 0L) dfs(i) += 1L; i += 1 }
        }
      }
    TextRankPartials(n, totalLen, dfs, docs.result())
  }

  /** Phase 1 of the TWO-PHASE distributed rank: ONLY the corpus stats
    * (N, Σdl) and per-term dfs — a few dozen bytes wherever they
    * travel, never candidate rows. Stats sum across shards.
    */
  def textRankStats(collection: String, key: String,
                    terms: Seq[String]): TextRankStats = {
    val p = textRankPartials(collection, key, terms)
    TextRankStats(p.n, p.totalLen, p.dfs)
  }

  /** Phase 2 of the two-phase distributed rank: score THIS store's
    * candidates with the caller-provided GLOBAL stats (the scorer's
    * idf/avglen inputs), return only the local top-k. A doc's score
    * depends on global stats and its own (tf, dl) alone, so each
    * shard's local top-k under global stats is a superset of its
    * members of the global top-k — merging N·k rows is EXACT, and the
    * ship volume to the merge point is bounded by k per shard instead
    * of every matching doc.
    */
  def textRankTopK(collection: String, key: String, terms: Seq[String],
                   k: Int, global: TextRankStats, k1: Double = 1.2,
                   b: Double = 0.75): Seq[(String, Double)] = {
    TextRank.validate(terms, k)
    TextRank.validateStats(terms, global)
    val p = textRankPartials(collection, key, terms)
    TextRank.rank(p.docs, global.dfs, global.n, global.totalLen, k1, b, k)
  }

  /** Change-log length for `collection` — the micro-batch streaming
    * source's offset domain. A store that cannot replay its history
    * (no change log) does not support streaming reads.
    */
  def logSize(collection: String): Long =
    throw new UnsupportedOperationException(
      s"${getClass.getName} keeps no change log; streaming reads unsupported")

  /** First log position still replayable (> 0 once the log has been
    * COMPACTED — a fresh streaming read starts here, not at 0).
    */
  def logStart(collection: String): Long = 0L

  /** Log entries [from, until) in ingest order (each upsert appears once,
    * including re-upserts of an existing id, and each delete appears as a
    * tombstone — CDC semantics). Entries carry their log position in
    * `seq`.
    */
  def logEntries(collection: String, from: Long, until: Long): Iterator[LogEntry] =
    throw new UnsupportedOperationException(
      s"${getClass.getName} keeps no change log; streaming reads unsupported")
}

/** The mutation surface a REMOTE client exposes to the connector's
  * write path: the SERVICE owns the read-modify-write (the client ships
  * batches over the wire, commit atomicity lives on the other side), so
  * the connector's store-update fold passes the client through
  * unchanged. Both wire transports implement it through ONE base,
  * [[WireCollectionClient]], which maps every store method to a
  * [[StoreVerb]]; [[RestCollectionStore]] (JSON) and
  * [[GrpcCollectionStore]] (framed protobuf) only add their codec, and
  * both servers run verbs through [[StoreDispatch]]. The sharded and
  * replicated wrappers implement it too, so the write path dispatches on
  * the TRAIT: backends are interchangeable above this seam.
  */
trait RemoteCollectionClient extends CollectionStore {
  def upsertPoints(collection: String, pts: Seq[Point]): Unit
  def deletePoints(collection: String, ids: Set[String]): Unit
  def truncate(collection: String): Unit

  /** Compact the collection's change log up to position `upTo`
    * (exclusive) — the lifecycle face of the CDC seam: retained entries
    * keep their positions, [[CollectionStore.logStart]] advances to
    * `upTo`. The service applies the COW swap; a backend without a log
    * refuses with the standard unsupported error.
    */
  def compact(collection: String, upTo: Long): Unit

  /** Trigger the remote service's OPTIMIZER: the service rebuilds its
    * store's index sidecars from the COW-current primaries and reseals
    * them at the current log head — the freshness loop closed over the
    * wire (journal positions are never written; results are identical
    * before and after, only the serve path changes). Default refuses:
    * a transport adds the verb explicitly.
    */
  def optimize(ivfMaxIter: Int = 0): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getName} exposes no optimize verb")

  /** Ask the remote service to SNAPSHOT `collection` to `path` ON THE
    * SERVICE SIDE (the backend's create-snapshot API: the artifact — a
    * parquet dataset + manifest, [[graft.collections.Snapshot]] — lands
    * where the service can write it; restore is a separate, local
    * operation against that path). Default refuses.
    */
  def snapshot(collection: String, path: String): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getName} exposes no snapshot verb")
}

/** The one optimize rebuild: [[StoreDispatch]] runs it for the wire's
  * optimize verb, the replicated wrapper per live replica. It rebuilds
  * whatever the fronted store is — parquet reseals its sidecars
  * at its log head (COW swap), a sharded wrapper closes the loop
  * cluster-wide (delegating to ITS wire members in turn), a further
  * wire client forwards the verb, and the in-memory store (no sidecars)
  * passes through. Alias wrappers rebuild their inner store, aliases
  * intact.
  */
private[sources] object StoreOptimize {
  def apply(s0: CollectionStore, spark: org.apache.spark.sql.SparkSession,
            ivfMaxIter: Int): CollectionStore = s0 match {
    case pq: ParquetCollectionStore => pq.optimized(spark, ivfMaxIter)
    case sh: ShardedCollectionStore => sh.optimizeMembers(spark, ivfMaxIter); sh
    case mem: InMemoryCollectionStore => mem // no sidecars to rebuild
    // before the RemoteCollectionClient arm: the replica wrapper IS one,
    // but its own verb must fan to every ALIVE replica (each reseals its
    // own sidecars), not hit the trait's refusing default
    case rep: ReplicatedCollectionStore =>
      rep.optimizeReplicas(spark, ivfMaxIter); rep
    case rc: RemoteCollectionClient => rc.optimize(ivfMaxIter); rc
    case al: AliasedCollectionStore =>
      new AliasedCollectionStore(apply(al.inner, spark, ivfMaxIter), al.aliases)
    case other => throw new UnsupportedOperationException(
      s"store ${other.getClass.getName} cannot be optimized")
  }

  /** The session the SERVICE optimizes/snapshots with (the server owns
    * its compute; in this single-JVM sandbox that is the default
    * session). Thread-global, not thread-local: server pools never see
    * the session that created them as "active".
    */
  def serviceSpark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.getDefaultSession.getOrElse(
      throw new UnsupportedOperationException(
        "optimize/snapshot need the service's SparkSession and none is running"))
}

/** Spark string-comparison semantics for pushed predicates: the default
  * UTF8_BINARY collation compares the UTF-8 ENCODING bytewise unsigned.
  * Java's `String` ordering compares UTF-16 code units and disagrees for
  * supplementary characters (4-byte UTF-8 sorts above U+E000..U+FFFF, but
  * their UTF-16 surrogates sort below) — a pushed filter evaluated with
  * Java ordering would silently drop rows Spark semantics include,
  * because accepted-exact filters are never re-checked post-scan.
  */
/** The facet surface's scalar rendering — one place, shared by
  * [[CollectionStore.facetCounts]] and [[CollectionStore.facetCountsFor]]
  * (and every backend override), so counts merged across stores key on
  * identical strings: numbers/bools render unquoted, strings raw;
  * absent, null, and non-scalar values carry no hit.
  */
private[sources] object FacetValue {
  import org.json4s._

  def of(payload: Option[String], key: String): Option[String] =
    for {
      j <- payload
      parsed <- org.json4s.jackson.JsonMethods.parseOpt(j)
      v <- render(parsed \ key)
    } yield v

  /** Scalar JValue -> the facet surface's rendered string; None for
    * absent/null/non-scalar. The ONE rendering both the row path and
    * any index-served path must share, or merged counts key apart.
    */
  def render(v: JValue): Option[String] = v match {
    case JString(s) => Some(s)
    case JInt(i) => Some(i.toString)
    case JLong(l) => Some(l.toString)
    case JDouble(d) => Some(d.toString)
    case JDecimal(d) => Some(d.toString)
    case JBool(b) => Some(b.toString)
    case _ => None // absent, null, or non-scalar
  }
}

private[sources] object SparkStringOrder {
  def gt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) > 0

  def lt(a: String, b: String): Boolean = gt(b, a)
}

/** JVM-local store registry. In local[*] (one JVM) executors see the
  * driver's registrations; on a real cluster the store entry would be a
  * serializable CLIENT (host/port/credentials) dialing a remote service
  * from each executor, exactly as the reference holds a gRPC client — the
  * DSv2 plumbing in this file is unchanged by that swap.
  */
object CollectionStores {
  private val stores = new ConcurrentHashMap[String, CollectionStore]()
  def register(name: String, store: CollectionStore): Unit = stores.put(name, store)
  def get(name: String): CollectionStore =
    Option(stores.get(name)).getOrElse(
      throw new IllegalArgumentException(s"no collection store registered as '$name'"))
  def remove(name: String): Unit = { stores.remove(name); () }
  /** Atomic read-modify-write of a registered store — concurrent write
    * commits to the same store must not lose each other's points.
    */
  def update(name: String)(f: CollectionStore => CollectionStore): Unit = {
    val changed = stores.computeIfPresent(name, (_, s) => f(s))
    if (changed == null)
      throw new IllegalArgumentException(s"no collection store registered as '$name'")
  }
}

/** Deterministic in-memory store over pre-materialized points (demo/test
  * stand-in for a live backend; also the ingest target of
  * [[InMemoryCollectionStore.fromRows]]).
  */
final class InMemoryCollectionStore(
    descriptors: Map[String, CollectionDescriptor],
    data: Map[String, IndexedSeq[Point]],
    log: Map[String, IndexedSeq[LogEntry]] = Map.empty,
    logBase: Map[String, Long] = Map.empty,
    snapshots: Map[String, IndexedSeq[Point]] = Map.empty) extends CollectionStore {

  /** Points materialized from the backing index by [[queryPoints]] since
    * this store instance was sealed — the observable cost model of the
    * keyset seek: a scroll page must touch O(page) points, not O(skipped
    * prefix), however deep the scroll goes (asserted in
    * CollectionDataSourceSpec, not just narrated).
    */
  val pointsTouched = new java.util.concurrent.atomic.AtomicLong(0L)

  // Is `collection` sealed in id order (UTF-8 byte order)? Computed once
  // per collection: `appended` always re-seals sorted; `single` may hold
  // arbitrary caller order, in which case the keyset bound degrades to a
  // filter (a real backend serves it from its id index regardless).
  private val sortedColl = new ConcurrentHashMap[String, java.lang.Boolean]()
  private def isSorted(collection: String): Boolean =
    sortedColl.computeIfAbsent(collection, c => {
      val pts = data(c)
      var i = 1
      var ok = true
      while (ok && i < pts.length) {
        ok = !SparkStringOrder.gt(pts(i - 1).id, pts(i).id); i += 1
      }
      java.lang.Boolean.valueOf(ok)
    }).booleanValue()

  /** First index in id-sorted `pts` whose id sorts AFTER `bound` (UTF-8
    * byte order) — the keyset SEEK: O(log n) probes to find the page
    * start instead of scan-and-discard over the whole preceding prefix.
    */
  private def seekPastId(pts: IndexedSeq[Point], bound: String): Int = {
    var lo = 0
    var hi = pts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SparkStringOrder.gt(pts(mid).id, bound)) hi = mid else lo = mid + 1
    }
    lo
  }

  override def collectionInfo(collection: String): CollectionDescriptor =
    descriptors.getOrElse(collection,
      throw new IllegalArgumentException(s"unknown collection '$collection'"))

  override def collectionNames: Seq[String] = descriptors.keys.toSeq.sorted

  /** Index-aware filtered count: an id SET counts by membership probes
    * (O(|set|) against a hash index), a keyset bound alone counts the
    * sealed sorted tail as `length - seek` (O(log n), ZERO points
    * touched). Only the conjunction of set + bound walks the set; the
    * default slice-walk remains the unsorted-collection fallback.
    */
  override def countMatching(collection: String,
                             idFilter: Option[Set[String]] = None,
                             idLower: Option[String] = None): Long = {
    val pts = data.getOrElse(collection,
      throw new IllegalArgumentException(s"unknown collection '$collection'"))
    (idFilter, idLower) match {
      case (Some(ids), lower) =>
        val present = idsOf(collection)
        ids.count(id => present.contains(id) &&
          lower.forall(b => SparkStringOrder.gt(id, b))).toLong
      case (None, Some(bound)) if isSorted(collection) =>
        (pts.length - seekPastId(pts, bound)).toLong
      case (None, Some(bound)) =>
        pts.count(p => SparkStringOrder.gt(p.id, bound)).toLong
      case (None, None) => pts.length.toLong
    }
  }

  // id hash index per collection, built lazily once (membership probes
  // for the id-set count and point lookups)
  private val idSets = new ConcurrentHashMap[String, Set[String]]()
  private def idsOf(collection: String): Set[String] =
    idSets.computeIfAbsent(collection, c => data(c).iterator.map(_.id).toSet)

  /** A new store with an (empty) collection added — the catalog's
    * CREATE TABLE. Replaces any existing descriptor of the same name
    * only if the collection is empty (no silent data loss).
    */
  def withCollection(collection: String,
                     desc: CollectionDescriptor): InMemoryCollectionStore = {
    require(!data.contains(collection) || data(collection).isEmpty,
      s"collection '$collection' already holds points")
    new InMemoryCollectionStore(descriptors.updated(collection, desc),
      data.updated(collection, IndexedSeq.empty),
      log.updated(collection, IndexedSeq.empty), logBase, snapshots)
  }

  /** A new store without `collection` — the catalog's DROP TABLE. */
  def withoutCollection(collection: String): InMemoryCollectionStore =
    new InMemoryCollectionStore(descriptors - collection, data - collection,
      log - collection, logBase - collection, snapshots - collection)

  /** A new store with `collection`'s field config replaced — the
    * catalog's ALTER TABLE (schema evolution). Points are untouched:
    * existing points simply lack any newly added field and decode as
    * NULL, the collection's standing heterogeneity rule.
    */
  def withFieldConfig(collection: String,
                      desc: CollectionDescriptor): InMemoryCollectionStore = {
    require(descriptors.contains(collection),
      s"unknown collection '$collection'")
    new InMemoryCollectionStore(descriptors.updated(collection, desc),
      data, log, logBase, snapshots)
  }

  override def pointCount(collection: String): Long = data(collection).size.toLong

  // a `single`-built store (no recorded history) reports its sealed
  // contents as one batch of upserts — the replay that reproduces it.
  // RETAINED entries only: positions baseOf(c) .. logSize(c).
  private def logOf(collection: String): IndexedSeq[LogEntry] =
    log.getOrElse(collection, data(collection).map(LogEntry(LogOps.Upsert, _)))

  private def baseOf(collection: String): Long =
    logBase.getOrElse(collection, 0L)

  override def logStart(collection: String): Long = baseOf(collection)

  override def logSize(collection: String): Long =
    baseOf(collection) + logOf(collection).size.toLong

  override def logEntries(collection: String, from: Long, until: Long): Iterator[LogEntry] = {
    val base = baseOf(collection)
    if (from < base)
      throw new IllegalStateException(
        s"log positions [$from, $base) of '$collection' were compacted away; " +
          s"replay must start at $base or from a fresh snapshot")
    logOf(collection).iterator
      .slice((from - base).toInt, (until - base).toInt).zipWithIndex
      .map { case (e, i) => e.copy(seq = from + i) }
  }

  /** A new store whose `collection` change log is COMPACTED up to global
    * position `upTo` (exclusive): the dropped prefix is replaced by a
    * point SNAPSHOT of the state at `upTo` (the checkpoint every real
    * log-structured store pairs with truncation — Delta checkpoints,
    * Kafka compacted topics), and every RETAINED entry keeps its global
    * position, so checkpointed CDC readers past `upTo` are undisturbed.
    * Readers needing positions before `upTo` (a stream restarting from
    * an older checkpoint, an asOfSeq time travel into the dropped range)
    * fail LOUDLY instead of silently replaying partial history. Bounds
    * the log memory of a long-lived collection by snapshot + tail.
    */
  def compacted(collection: String, upTo: Long): InMemoryCollectionStore = {
    val base = baseOf(collection)
    if (upTo <= base) this
    else {
      require(upTo <= logSize(collection),
        s"cannot compact '$collection' past its log head (${logSize(collection)}), got $upTo")
      val snap = stateAt(collection, upTo)
      new InMemoryCollectionStore(descriptors, data,
        log.updated(collection, logOf(collection).drop((upTo - base).toInt)),
        logBase.updated(collection, upTo),
        snapshots.updated(collection, snap))
    }
  }

  /** A new store with `pts` upserted into `collection` (point-id
    * semantics, like the reference backend: an incoming id REPLACES the
    * stored point; within one batch the last occurrence wins), re-sealed
    * in id order. The DSv2 write commit path. The batch also appends to
    * the collection's upsert LOG (ingest order, re-upserts included) —
    * the replay domain of the streaming read source.
    */
  def appended(collection: String, pts: IndexedSeq[Point]): InMemoryCollectionStore = {
    val incoming = pts.map(_.id).toSet
    val deduped = pts.groupBy(_.id).view.mapValues(_.last).values.toIndexedSeq
      .sortBy(_.id)
    val merged = data(collection).filterNot(p => incoming(p.id)) ++ deduped
    new InMemoryCollectionStore(descriptors,
      data.updated(collection, merged.sortBy(_.id).toIndexedSeq),
      log.updated(collection,
        logOf(collection) ++ deduped.map(LogEntry(LogOps.Upsert, _))),
      logBase, snapshots)
  }

  /** The collection's contents AS OF log position `seq` (exclusive) —
    * TIME TRAVEL served from the change log: replay the prefix, last
    * entry per id wins, tombstones remove. Sorted by id like the sealed
    * index. This local stand-in recomputes the replay per call; a real
    * backend serves snapshots from its own MVCC/version store — the
    * connector surface (the `asOfSeq` read option) is what carries over.
    */
  def stateAt(collection: String, seq: Long): IndexedSeq[Point] = {
    val base = baseOf(collection)
    if (seq < base)
      throw new IllegalStateException(
        s"state of '$collection' at position $seq predates the compaction " +
          s"point $base; that history is gone")
    val m = scala.collection.mutable.HashMap.empty[String, Point]
    snapshots.getOrElse(collection, IndexedSeq.empty)
      .foreach(p => m(p.id) = p)
    logOf(collection)
      .take(math.min(seq - base, Int.MaxValue.toLong).toInt).foreach { e =>
        if (e.op == LogOps.Delete) m.remove(e.point.id)
        else m(e.point.id) = e.point
      }
    m.values.toIndexedSeq.sortBy(_.id)
  }

  /** A new store whose `collection` holds EXACTLY `pts` (last occurrence
    * wins per id) — the commit of a group-based row-level REWRITE
    * (UPDATE/MERGE copy-on-write, the whole collection being the one
    * group). The change log records the DIFF consistently with replay:
    * an upsert for every written row, then a tombstone for every id the
    * rewrite dropped — old state + these entries = new state.
    */
  def replacedWith(collection: String,
                   pts: IndexedSeq[Point]): InMemoryCollectionStore = {
    val deduped = pts.groupBy(_.id).view.mapValues(_.last).values.toIndexedSeq
      .sortBy(_.id)
    val newIds = deduped.map(_.id).toSet
    val dropped = data(collection).filterNot(p => newIds(p.id))
    new InMemoryCollectionStore(descriptors,
      data.updated(collection, deduped),
      log.updated(collection,
        logOf(collection)
          ++ deduped.map(LogEntry(LogOps.Upsert, _))
          ++ dropped.map(p => LogEntry(LogOps.Delete, Point(p.id, None)))),
      logBase, snapshots)
  }

  /** A new store with `collection` emptied — TRUNCATE. Equivalent to
    * [[removed]] of every current id, but the enumeration happens HERE
    * (the store owns its ids); the DELETE surface must not page every id
    * through the driver just to throw the rows away.
    */
  def truncated(collection: String): InMemoryCollectionStore =
    removed(collection, data(collection).map(_.id).toSet)

  /** A new store with `ids` deleted from `collection` — point-id delete
    * semantics like the reference backend (deleting an absent id is a
    * no-op). Each id actually present is removed from the sealed index
    * AND appended to the change log as a delete TOMBSTONE (id only), so
    * the CDC read stream replays the deletion; absent ids log nothing
    * (nothing happened). Tombstones seal in id order, matching
    * [[appended]]'s per-batch ordering.
    */
  /** The backend's set_payload: merge `patch`'s top-level fields into each
    * selected point's payload (unselected points untouched; unmentioned
    * fields survive — PARTIAL update, unlike the copy-on-write UPDATE
    * path which rewrites whole rows). The change log records each
    * rewritten point as an upsert, so CDC readers replay the patch.
    */
  def payloadPatched(collection: String, ids: Set[String],
                     patch: String): InMemoryCollectionStore =
    payloadRewritten(collection, ids,
      base => Some(CollectionWire.mergePayload(base, patch)))

  /** Shared rewrite loop of every PARTIAL point mutation (payload
    * set/delete/clear, vector update/delete): `f` maps each selected
    * point to its replacement in place (id order preserved); rewritten
    * points log as CDC upserts, so change-log readers replay the edit.
    */
  private def pointsRewritten(collection: String, ids: Set[String],
                              f: Point => Point): InMemoryCollectionStore = {
    val touched = scala.collection.mutable.ArrayBuffer.empty[Point]
    val next = data(collection).map { p =>
      if (ids(p.id)) { val np = f(p); touched += np; np }
      else p
    }
    if (touched.isEmpty) this
    else new InMemoryCollectionStore(descriptors,
      data.updated(collection, next),
      log.updated(collection,
        logOf(collection) ++ touched.map(LogEntry(LogOps.Upsert, _))),
      logBase, snapshots)
  }

  private def payloadRewritten(collection: String, ids: Set[String],
                               f: Option[String] => Option[String]): InMemoryCollectionStore =
    pointsRewritten(collection, ids, p => p.copy(payload = f(p.payload)))

  /** The backend's update_vectors: replace ONLY the vector fields each
    * update point carries — fields absent from the update survive (unlike
    * upsert, which replaces the whole point). Update payloads are ignored
    * (payload edits go through the payload mutations).
    */
  def vectorsUpdated(collection: String,
                     updates: Seq[Point]): InMemoryCollectionStore = {
    val byId = updates.map(p => p.id -> p).toMap
    pointsRewritten(collection, byId.keySet, { p =>
      val u = byId(p.id)
      p.copy(dense = p.dense ++ u.dense, multi = p.multi ++ u.multi,
        sparse = p.sparse ++ u.sparse)
    })
  }

  /** The backend's delete_vectors: drop the NAMED vector fields from the
    * selected points (remaining fields and the payload survive; the
    * field decodes as NULL on read, the standing heterogeneity rule).
    */
  def vectorsDeleted(collection: String, ids: Set[String],
                     fields: Set[String]): InMemoryCollectionStore =
    pointsRewritten(collection, ids, p =>
      p.copy(dense = p.dense -- fields, multi = p.multi -- fields,
        sparse = p.sparse -- fields))

  /** Drop the named top-level payload fields from the selected points. */
  def payloadKeysDeleted(collection: String, ids: Set[String],
                         keys: Set[String]): InMemoryCollectionStore =
    payloadRewritten(collection, ids,
      CollectionWire.deletePayloadKeys(_, keys))

  /** Remove the selected points' payloads entirely (clear_payload). */
  def payloadCleared(collection: String, ids: Set[String]): InMemoryCollectionStore =
    payloadRewritten(collection, ids, _ => None)

  def removed(collection: String, ids: Set[String]): InMemoryCollectionStore = {
    val hit = data(collection).filter(p => ids(p.id))
    if (hit.isEmpty) this
    else new InMemoryCollectionStore(descriptors,
      data.updated(collection, data(collection).filterNot(p => ids(p.id))),
      log.updated(collection,
        logOf(collection) ++ hit.map(p =>
          LogEntry(LogOps.Delete, Point(p.id, None)))),
      logBase, snapshots)
  }

  override def queryPoints(collection: String, from: Long, until: Long,
                           withPayload: Boolean, vectorFields: Seq[String],
                           limit: Option[Int],
                           idFilter: Option[Set[String]] = None,
                           idLower: Option[String] = None): Iterator[Point] = {
    val all = data(collection)
    val hi = math.min(until, all.size.toLong).toInt
    // Keyset bound `id > last`: a SEEK over the sealed id-sorted index
    // (binary search to the page start — no point before it is touched);
    // `single`-built stores may hold arbitrary caller order, where the
    // bound degrades to a filter. Comparison MUST be Spark's (UTF-8
    // bytes), not Java's (UTF-16 units).
    val (lo, residualLower) = idLower match {
      case Some(last) if isSorted(collection) =>
        (math.max(from.toInt, seekPastId(all, last)), None)
      case other => (from.toInt, other)
    }
    val base = Iterator.range(lo, hi).map { i =>
      pointsTouched.incrementAndGet(); all(i)
    }
    val paged = residualLower.fold(base)(last =>
      base.filter(p => SparkStringOrder.gt(p.id, last)))
    val filtered = idFilter.fold(paged)(ids => paged.filter(p => ids(p.id)))
    val limited = limit.fold(filtered)(n => filtered.take(n))
    // honor the narrowed fetch: drop what wasn't asked for
    limited.map(p => FetchSpec.narrowed(p, vectorFields)
      .copy(payload = if (withPayload) p.payload else None))
  }
}

object InMemoryCollectionStore {
  def single(collection: String, desc: CollectionDescriptor,
             points: IndexedSeq[Point]): InMemoryCollectionStore =
    new InMemoryCollectionStore(Map(collection -> desc), Map(collection -> points))

  /** Ingest a collection frame WITHOUT collecting it to the driver: rows
    * convert to [[Point]]s executor-side through the DSv2 WRITE path (the
    * local stand-in for the reference's gRPC upsert — its `insert_into`
    * is `todo!()`, /root/reference/src/table.rs:186-193), which publishes
    * each task's points only on task commit — so a retried or speculative
    * attempt can never leak duplicates into the ingest. Points are sealed
    * in id order; driver memory holds only the sealed point index, never
    * a Spark `collect()` of the frame's rows in Row form.
    */
  def fromRows(df: DataFrame, collection: String,
               desc: CollectionDescriptor): InMemoryCollectionStore = {
    val tmpName = s"__ingest_${java.util.UUID.randomUUID()}"
    CollectionStores.register(tmpName,
      single(collection, desc, IndexedSeq.empty))
    try {
      df.write.format("graft.sources.CollectionDataSource")
        .option("store", tmpName).option("collection", collection)
        .mode("append").save()
      CollectionStores.get(tmpName).asInstanceOf[InMemoryCollectionStore]
    } finally CollectionStores.remove(tmpName)
  }
}

/** The change-log (cdc=true) face of a collection: column names, schema
  * shape, and the id-predicate translation shared by the DELETE surface.
  */
object CdcSchema {
  val OpCol = "_op"
  val SeqCol = "_seq"

  /** `_op`, `_seq`, then the collection's own columns. */
  def of(desc: CollectionDescriptor): StructType =
    StructType(
      StructField(OpCol, StringType, nullable = false) +:
      StructField(SeqCol, LongType, nullable = false) +:
      desc.schema.fields)

  /** The id set a V2 predicate selects, when it is one of the accepted
    * DELETE shapes (`id = 'x'`, `id IN (...)`); None declines it.
    */
  def idsOfPredicate(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Set[String]] = {
    import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference}
    def str(e: Expression): Option[String] = e match {
      case l: Literal[_] if l.dataType == StringType =>
        Option(l.value).map(_.toString)
      case _ => None
    }
    def isIdRef(e: Expression): Boolean = e match {
      case n: NamedReference => n.fieldNames.toSeq == Seq("id")
      case _ => false
    }
    p.name() match {
      case "=" if p.children().length == 2 =>
        val Array(a, b) = p.children()
        if (isIdRef(a)) str(b).map(Set(_))
        else if (isIdRef(b)) str(a).map(Set(_))
        else None
      case "IN" if p.children().nonEmpty && isIdRef(p.children().head) =>
        val vals = p.children().drop(1).map(str)
        if (vals.nonEmpty && vals.forall(_.isDefined)) Some(vals.flatten.toSet)
        else None
      case _ => None
    }
  }
}

/** The narrowed fetch spec derived from a pruned schema — the analog of the
  * reference's `VectorSelectorSpec` + payload bool
  * (/root/reference/src/utils.rs:53-83,114-116). Exposed on the scan
  * description so tests (and EXPLAIN readers) can assert the narrowing.
  */
final case class FetchSpec(withPayload: Boolean, vectorFields: Seq[String])

object FetchSpec {
  /** `p` narrowed to the requested vector fields: a field the fetch did
    * not ask for — the scored one, an internally widened one — drops,
    * whatever its kind.
    */
  private[sources] def narrowed(p: Point, vectorFields: Seq[String]): Point = {
    def keep[V](m: Map[String, V]): Map[String, V] =
      if (m.keysIterator.forall(vectorFields.contains)) m
      else m.filter { case (k, _) => vectorFields.contains(k) }
    p.copy(dense = keep(p.dense), multi = keep(p.multi),
      sparse = keep(p.sparse))
  }

  /** Map pruned physical columns back to logical vector fields via the
    * descriptor (NOT by name suffix — SURVEY.md §1.3 quirk, fixed).
    */
  def fromSchema(pruned: StructType, desc: CollectionDescriptor): FetchSpec = {
    val cols = pruned.fieldNames.toSet
    // fetch names are the physical column names; an unnamed collection's
    // single dense field is fetched as "vector" (schema.rs:74-77 analog)
    val fields = desc.fields.flatMap {
      case DenseField(n, _, _) =>
        val physical = if (desc.named) n else "vector"
        if (cols(physical)) Some(physical) else None
      case MultiField(n, _) => if (cols(n)) Some(n) else None
      case SparseField(n) =>
        if (cols(s"${n}_indices") || cols(s"${n}_values")) Some(n) else None
    }
    FetchSpec(cols("payload"), fields)
  }
}

/** DSv2 entry point. Usage:
  * {{{
  * spark.read.format("graft.sources.CollectionDataSource")
  *   .option("store", "myStore").option("collection", "c")
  *   .option("partitions", "8").load()
  * }}}
  * Mirrors the reference's provider surface: schema inferred once from the
  * store's collection config (A1, /root/reference/src/table.rs:132-146),
  * scan with projection + limit pushdown (A2-A4, table.rs:157-184), and a
  * per-partition row->InternalRow decode (A6, arrow/deserialize.rs:192-313)
  * — except partitioned N ways instead of the reference's single partition
  * (table.rs:247), which is the Spark-native scale upgrade.
  */
class CollectionDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val store = CollectionStores.get(options.get("store"))
    val base = store.collectionInfo(options.get("collection")).schema
    // a pushed search (`search.*` options) makes the scan a scored query:
    // the schema gains a trailing `_score` double (the reference's
    // ScoredPoint.score, /root/reference/src/table.rs:305)
    if (TextRank.fromOptions(options).isDefined) TextRankSpec.schema
    else if (SearchSpec.fromOptions(options).isDefined)
      StructType(base.fields :+
        StructField(SearchSpec.ScoreCol, DoubleType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new CollectionTable(opts.get("store"), opts.get("collection"),
      math.max(1, opts.getInt("partitions", 4)),
      cdc = opts.getBoolean("cdc", false),
      search = SearchSpec.fromOptions(opts),
      textRank = TextRank.fromOptions(opts))
  }

  override def supportsExternalMetadata(): Boolean = false
}

/** `cdc = true` (read/write option) switches the table to its CHANGE-LOG
  * face: the schema gains leading `_op` (upsert/delete) and `_seq` (log
  * position) columns, batch/streaming reads serve the store's change log
  * instead of the sealed points, and writes APPLY ops (`_op = 'delete'`
  * deletes the row's id) instead of upserting blindly — the full
  * change-data-capture loop, reference-backend deletes included.
  */
final class CollectionTable(storeName: String, collection: String,
                            partitions: Int, cdc: Boolean = false,
                            search: Option[SearchSpec] = None,
                            textRank: Option[TextRankSpec] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private lazy val descriptor =
    CollectionStores.get(storeName).collectionInfo(collection)

  override def name(): String =
    if (cdc) s"$storeName.$collection.cdc" else s"$storeName.$collection"
  override def schema(): StructType =
    if (cdc) CdcSchema.of(descriptor)
    else if (textRank.isDefined) TextRankSpec.schema
    else if (search.isDefined)
      StructType(descriptor.schema.fields :+
        StructField(SearchSpec.ScoreCol, DoubleType, nullable = false))
    else descriptor.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // streaming admission control: cap each CDC micro-batch at this many
    // log entries (read option; 0/absent = all available)
    val maxRows = Option(options.get("maxRowsPerBatch")).map(_.toLong).filter(_ > 0)
    val asOf = Option(options.get("asOfSeq")).map(_.toLong)
    // payload `must` conditions (read option `filter`, `key:op:value`
    // conjunctions) — evaluated by the STORE, exactly like the pushed id
    // filters: matching points are the only ones that surface (and, for
    // the wire client, the only ones that cross the network)
    val pf = PayloadFilter.fromOptions(options)
    if (cdc) {
      if (pf.nonEmpty) throw new UnsupportedOperationException(
        "payload filters are not supported on the CDC read face " +
          "(tombstones carry no payload to evaluate)")
      new CdcScanBuilder(storeName, collection, descriptor, partitions, maxRows)
    } else if (textRank.isDefined) {
      // ranked full-text: the scan IS the BM25 query, served store-side
      val tr = textRank.get
      () => new CollectionTextRankScan(storeName, collection, tr)
    } else if (search.isDefined)
      // the scan IS the query: a pushed top-k search serves scored points
      // straight from the store — no full-collection decode above the scan
      new CollectionSearchScanBuilder(storeName, collection, descriptor,
        search.get, pf)
    else asOf match {
      // TIME TRAVEL (read option asOfSeq=N): the collection's contents as
      // of change-log position N, reconstructed by replaying the log
      // prefix (upserts win last-per-id, tombstones remove) — the read
      // face of the CDC log's history. Column pruning only: a
      // point-in-time audit read, not a serving path.
      case Some(seq) =>
        if (pf.nonEmpty) throw new UnsupportedOperationException(
          "payload filters are not supported on the time-travel read " +
            "(an audit read reconstructs the full snapshot)")
        new HistoricalScanBuilder(storeName, collection, descriptor, seq,
          partitions)
      case None =>
        new CollectionScanBuilder(storeName, collection, descriptor, partitions,
          maxRows, pf)
    }
  }

  /** SQL `DELETE FROM <catalog>.<collection> WHERE id = / id IN (...)`
    * resolves here (the reference client's delete-points call as a Spark
    * DDL surface): accepted shapes delete by id through the store's
    * tombstone path ([[InMemoryCollectionStore.removed]] — the sealed
    * index shrinks AND the change log records the deletes, so CDC readers
    * replay them). `DELETE FROM t` with no WHERE truncates. Any other
    * predicate is declined and Spark raises its standard "cannot
    * translate" analysis error rather than silently deleting wrong rows.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    predicates.forall(p =>
      p.isInstanceOf[org.apache.spark.sql.connector.expressions.filter.AlwaysTrue] ||
        CdcSchema.idsOfPredicate(p).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // `DELETE FROM t` (no WHERE) arrives as [AlwaysTrue], not as an empty
    // array — both mean truncate (a STORE-side operation: the ids never
    // page through the driver); AlwaysTrue conjuncts otherwise drop out
    val idSets = predicates.flatMap(CdcSchema.idsOfPredicate)
    CollectionStores.update(storeName) { s0 =>
      // writes through an alias land on the resolved target collection,
      // and the alias wrapper survives the mutation untouched
      val coll = AliasedCollectionStore.resolve(s0, collection)
      AliasedCollectionStore.mapInner(s0) {
        case mem: InMemoryCollectionStore =>
          if (idSets.isEmpty) mem.truncated(coll)
          else mem.removed(coll, idSets.reduce(_ intersect _))
        case rest: RemoteCollectionClient =>
          // remote backend (either wire transport): the delete ships over
          // the wire and the SERVICE owns the RMW (truncate enumerates
          // ids server-side — they never page through this client)
          if (idSets.isEmpty) rest.truncate(coll)
          else rest.deletePoints(coll, idSets.reduce(_ intersect _))
          rest
        case pq: ParquetCollectionStore =>
          if (idSets.isEmpty) pq.truncated(coll)
          else pq.removed(coll, idSets.reduce(_ intersect _))
        case other => throw new UnsupportedOperationException(
          s"store ${other.getClass.getName} does not accept local deletes")
      }
    }
  }

  /** SQL UPDATE / MERGE INTO (and DELETE with predicates the id path
    * declines) resolve here as a GROUP-BASED copy-on-write rewrite — the
    * collection is the one group, exactly like an unpartitioned parquet
    * table under Iceberg-style copy-on-write: Spark reads the group,
    * applies the DML, and the replacement write commits atomically via
    * [[InMemoryCollectionStore.replacedWith]] (which also logs the CDC
    * diff — upserts for written rows, tombstones for dropped ids).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new CollectionRowLevelOperation(storeName, collection, descriptor,
      partitions, info.command())

  /** A12 upsert path — the half the reference leaves as `todo!()`
    * (/root/reference/src/table.rs:186-193). Append mode: rows convert to
    * wire Points executor-side and buffer per write; the driver-side
    * commit seals them into the registered store atomically (abort drops
    * the buffer — no partial write ever becomes visible).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    // cdc writes carry `_op` + `_seq` + the collection columns: entries
    // apply in per-entry `_seq` order — exact replication of an upstream
    // change log, delete-then-reupsert included. (Spark's byName write
    // resolution enforces the full cdc schema anyway; hand-built frames
    // without positions can stamp monotonically_increasing_id().)
    val expected =
      if (cdc) CdcSchema.of(descriptor).fieldNames.toSeq
      else descriptor.schema.fieldNames.toSeq
    if (in.fieldNames.toSeq != expected)
      throw new IllegalArgumentException(
        s"collection '$collection' expects columns ${expected.mkString("[", ",", "]")}, " +
          s"got ${in.fieldNames.mkString("[", ",", "]")}")
    new WriteBuilder {
      override def build(): Write =
        new CollectionWrite(storeName, collection, descriptor,
          java.util.UUID.randomUUID().toString, info.queryId(),
          distributeById = info.options().getBoolean("distributeById", false),
          writeSchema = in)
    }
  }
}

/** Executor-side write buffers, keyed per write (JVM-shared in local[*];
  * on a real cluster each DataWriter would hold a remote upsert client
  * instead, and commit would ack — the Spark-side plumbing is identical).
  * Rows are PUBLISHED here only from `DataWriter.commit()`: a failed,
  * aborted, or losing speculative task attempt keeps its rows in its own
  * private buffer and they never become visible, per the DSv2 contract.
  */
private[sources] object CollectionWriteBuffers {
  private val bufs =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[LogEntry]]()
  def publish(writeId: String, es: Seq[LogEntry]): Unit = {
    val q = bufs.computeIfAbsent(writeId,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[LogEntry]())
    es.foreach(q.add)
  }
  def drain(writeId: String): IndexedSeq[LogEntry] = {
    val q = bufs.remove(writeId)
    if (q == null) IndexedSeq.empty else q.asScala.toIndexedSeq
  }
}

final case class CollectionCommit(rows: Long) extends WriterCommitMessage

/** Highest committed epoch per (store, collection, streaming query) — the
  * sink-side replay guard. Spark's streaming commit is at-least-once: if
  * the driver dies after the sink commits epoch N but before the epoch
  * lands in the checkpoint, a restart re-runs epoch N. Point-id upsert
  * keeps the TABLE idempotent under that replay, but the upsert LOG (the
  * CDC read stream) would record the batch twice — so a replayed epoch
  * must drain its buffer without sealing. In-memory like the store
  * itself; a durable backend would persist the epoch watermark with the
  * data (one transactional write), which is the standard exactly-once
  * sink recipe.
  */
private[graft] object CommittedEpochs {
  /** Keys are STRUCTURED (store, collection, queryId) — a joined-string
    * key would collide when names contain the separator. Retention is a
    * bounded LRU: each entry holds only the LAST committed epoch, so the
    * only growth is one entry per distinct streaming query in a
    * long-lived JVM, capped at [[MaxTracked]]. Evicting a key weakens the
    * guard only for a query that stays idle across 1024 other queries'
    * commits — far beyond realistic concurrency; a durable backend
    * persists the watermark transactionally with the data instead.
    */
  private val MaxTracked = 1024
  private type Key = (String, String, String)
  private val last =
    new java.util.LinkedHashMap[Key, java.lang.Long](64, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[Key, java.lang.Long]): Boolean =
        size() > MaxTracked
    }
  /** True iff `epochId` is NEW for the query key (and records it). */
  def markIfNew(store: String, collection: String, queryId: String,
                epochId: Long): Boolean = last.synchronized {
    val k = (store, collection, queryId)
    val prev = last.get(k)
    if (prev == null || epochId > prev.longValue()) {
      last.put(k, java.lang.Long.valueOf(epochId)); true
    } else false
  }
}

final class CollectionWrite(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    writeId: String, queryId: String, distributeById: Boolean = false,
    writeSchema: StructType = null)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  // the validated input schema (may carry _op/_seq on a cdc write); null
  // only from legacy call sites, which are plain-upsert by construction
  private val inSchema: StructType =
    Option(writeSchema).getOrElse(descriptor.schema)

  /** Opt-in (write option `distributeById`): ask Spark to CLUSTER rows by
    * id and sort each task's rows ascending before they reach the
    * writers. For a sharded backend this is the difference between every
    * writer dialing every shard (all-to-all upsert fan-out) and each
    * writer owning one id range/shard with sorted, sequential-append
    * batches — the write-path analog of the scan's partition planning.
    * Off by default: the local store seals id-sorted regardless, and an
    * extra exchange is pure cost when the backend doesn't care.
    */
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    if (distributeById)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity("id")))
    else org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (distributeById)
      Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column("id"),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    else Array.empty

  override def toBatch: BatchWrite = this

  /** Streaming ingest (the continuous form of the upsert path): each
    * micro-batch epoch buffers its points under `queryId#epochId` — the
    * STREAMING QUERY id, stable across driver restarts, unlike the
    * per-Write writeId — and commits them as one atomic upsert. A
    * failed/aborted epoch drains its private buffer and nothing becomes
    * visible; a REPLAYED epoch (driver died between sink commit and
    * checkpoint commit — Spark's at-least-once window) is detected by
    * [[CommittedEpochs]] and drained without sealing, so neither the
    * table nor the upsert log (the CDC read stream) ever sees a batch
    * twice: exactly-once end to end.
    */
  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory =
      new CollectionStreamingDataWriterFactory(descriptor, inSchema, queryId)

    override def commit(epochId: Long,
                        messages: Array[WriterCommitMessage]): Unit =
      if (CommittedEpochs.markIfNew(storeName, collection, queryId, epochId))
        sealEpoch(s"$queryId#$epochId")
      else {
        // replayed epoch: already sealed once — discard the replay buffer
        CollectionWriteBuffers.drain(s"$queryId#$epochId")
        ()
      }

    override def abort(epochId: Long,
                       messages: Array[WriterCommitMessage]): Unit = {
      CollectionWriteBuffers.drain(s"$queryId#$epochId")
      ()
    }
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CollectionDataWriterFactory(descriptor, inSchema, writeId)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    sealEpoch(writeId)

  private def sealEpoch(bufferKey: String): Unit = {
    val entries = CollectionWriteBuffers.drain(bufferKey)
    // Apply order: when every entry carries `_seq` (an upstream log
    // position) the epoch applies in EXACT log order — delete-then-
    // reupsert of an id replays correctly, the full CDC replication
    // contract. Without seq the arrival interleave across writer tasks is
    // arbitrary, so the deterministic resolution is upserts first,
    // deletes last (a delete wins over a same-epoch upsert of its id).
    val ordered =
      if (entries.nonEmpty && entries.forall(_.seq >= 0L)) entries.sortBy(_.seq)
      else entries.sortBy(e => (if (e.op == LogOps.Delete) 1 else 0, e.point.id))
    // consecutive same-op runs each seal as one atomic store batch
    val runs = scala.collection.mutable.ArrayBuffer
      .empty[(String, scala.collection.mutable.ArrayBuffer[Point])]
    ordered.foreach { e =>
      if (runs.nonEmpty && runs.last._1 == e.op) runs.last._2 += e.point
      else { runs += ((e.op, scala.collection.mutable.ArrayBuffer(e.point))); () }
    }
    // atomic RMW: concurrent commits to the same store must both survive
    CollectionStores.update(storeName) { s0 =>
      val coll = AliasedCollectionStore.resolve(s0, collection)
      AliasedCollectionStore.mapInner(s0) {
      case mem: InMemoryCollectionStore =>
        runs.foldLeft(mem) { case (m, (op, ps)) =>
          if (op == LogOps.Upsert)
            // seal in id order (stable sort: same-id entries keep their
            // seq order, so last-wins dedupe honors it)
            m.appended(coll, ps.sortBy(_.id).toIndexedSeq)
          else if (op == LogOps.Delete)
            m.removed(coll, ps.map(_.id).toSet)
          else throw new IllegalArgumentException(
            s"unknown _op '$op' (expected '${LogOps.Upsert}' or '${LogOps.Delete}')")
        }
      case rest: RemoteCollectionClient =>
        // remote backend (either wire transport): each same-op run ships
        // as one wire batch, the SERVICE applies it atomically in order —
        // the connector's upsert/tombstone semantics land unchanged on
        // the other side (streaming epochs included: the replayed-epoch
        // guard fires BEFORE sealEpoch, so a replay never reaches the wire)
        runs.foreach { case (op, ps) =>
          if (op == LogOps.Upsert)
            rest.upsertPoints(coll, ps.sortBy(_.id).toIndexedSeq)
          else if (op == LogOps.Delete)
            rest.deletePoints(coll, ps.map(_.id).toSet)
          else throw new IllegalArgumentException(
            s"unknown _op '$op' (expected '${LogOps.Upsert}' or '${LogOps.Delete}')")
        }
        rest
      case pq: ParquetCollectionStore =>
        // lakehouse backend: each run is one COW batch (only the primary
        // files whose id range the batch touches rewrite) + one log
        // segment, so the CDC stream over this store replays the commit
        runs.foldLeft(pq) { case (p, (op, ps)) =>
          if (op == LogOps.Upsert)
            p.appended(coll, ps.sortBy(_.id).toIndexedSeq)
          else if (op == LogOps.Delete)
            p.removed(coll, ps.map(_.id).toSet)
          else throw new IllegalArgumentException(
            s"unknown _op '$op' (expected '${LogOps.Upsert}' or '${LogOps.Delete}')")
        }
      case other => throw new UnsupportedOperationException(
        s"store ${other.getClass.getName} does not accept local commits; " +
          "a remote store acks per-writer upserts instead")
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    CollectionWriteBuffers.drain(writeId)
    ()
  }
}

final class CollectionStreamingDataWriterFactory(
    descriptor: CollectionDescriptor, inSchema: StructType, writeId: String)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new CollectionDataWriter(descriptor, inSchema, s"$writeId#$epochId")
}

final class CollectionDataWriterFactory(descriptor: CollectionDescriptor,
                                        inSchema: StructType, writeId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CollectionDataWriter(descriptor, inSchema, writeId)
}

/** InternalRow -> wire Point (the exact inverse of the read extractors),
  * dispatched once from the descriptor. Rows accumulate in a task-private
  * buffer and are published to [[CollectionWriteBuffers]] only on task
  * commit, so retried/speculative attempts never leak duplicates.
  */
final class CollectionDataWriter(descriptor: CollectionDescriptor,
                                 inSchema: StructType, writeId: String)
    extends DataWriter[InternalRow] {

  private val fieldIdx: Map[String, Int] = inSchema.fieldNames.zipWithIndex.toMap
  // cdc write shape: rows carry their own op (and optionally the upstream
  // log position); a delete row needs only its id decoded
  private val opIdx: Option[Int] = fieldIdx.get(CdcSchema.OpCol)
  private val seqIdx: Option[Int] = fieldIdx.get(CdcSchema.SeqCol)
  private val pending = scala.collection.mutable.ArrayBuffer.empty[LogEntry]

  private def floats(r: InternalRow, i: Int): Array[Float] =
    r.getArray(i).toFloatArray()

  override def write(r: InternalRow): Unit = {
    // arity guard: a row whose layout disagrees with the declared schema
    // would decode columns at shifted ordinals — garbage ids at best, a
    // native crash reading a string as an array at worst. Fail loudly.
    if (r.numFields != fieldIdx.size)
      throw new IllegalStateException(
        s"row has ${r.numFields} fields but the write schema has " +
          s"${fieldIdx.size} (${inSchema.fieldNames.mkString(",")})")
    val op = opIdx.fold(LogOps.Upsert)(i => r.getUTF8String(i).toString)
    val seq = seqIdx.fold(-1L)(r.getLong)
    if (op == LogOps.Delete) {
      pending += LogEntry(op,
        Point(r.getUTF8String(fieldIdx("id")).toString, None), seq)
      ()
    } else writeUpsert(r, seq)
  }

  private def writeUpsert(r: InternalRow, seq: Long): Unit = {
    val dense = descriptor.fields.collect {
      case DenseField(nm, _, _) => if (descriptor.named) nm else "vector"
    }.flatMap { phys =>
      val i = fieldIdx(phys)
      if (r.isNullAt(i)) None else Some(phys -> floats(r, i))
    }.toMap
    val multi = descriptor.fields.collect { case MultiField(nm, _) => nm }
      .flatMap { nm =>
        val i = fieldIdx(nm)
        if (r.isNullAt(i)) None
        else {
          val outer = r.getArray(i)
          Some(nm -> Array.tabulate(outer.numElements())(j =>
            outer.getArray(j).toFloatArray()))
        }
      }.toMap
    val sparse = descriptor.fields.collect { case SparseField(nm) => nm }
      .flatMap { nm =>
        val (ii, vi) = (fieldIdx(s"${nm}_indices"), fieldIdx(s"${nm}_values"))
        if (r.isNullAt(ii) || r.isNullAt(vi)) None
        else Some(nm -> (r.getArray(ii).toIntArray(), r.getArray(vi).toFloatArray()))
      }.toMap
    val pi = fieldIdx("payload")
    pending += LogEntry(LogOps.Upsert, Point(
      r.getUTF8String(fieldIdx("id")).toString,
      if (r.isNullAt(pi)) None else Some(r.getUTF8String(pi).toString),
      dense, multi, sparse), seq)
    ()
  }

  override def commit(): WriterCommitMessage = {
    CollectionWriteBuffers.publish(writeId, pending.toSeq)
    CollectionCommit(pending.size.toLong)
  }
  override def abort(): Unit = pending.clear()
  override def close(): Unit = ()
}

final class CollectionScanBuilder(
    storeName: String, collection: String,
    descriptor: CollectionDescriptor, partitions: Int,
    maxRowsPerBatch: Option[Long] = None,
    pfilter: PayloadFilter = PayloadFilter.Empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var prunedSchema: StructType = descriptor.schema
  private var limit: Option[Int] = None
  private var idFilter: Option[Set[String]] = None
  private var idLower: Option[String] = None
  private var accepted: Array[sources.Filter] = Array.empty
  private var countStar: Boolean = false

  /** COUNT(*) with no grouping and no pushed limit is answered by the
    * store — the backend's `count` API in BOTH its forms: with no pushed
    * predicate it is a pure metadata hit (the collection-cardinality
    * call every catalog/UI issues; zero points shipped), with pushed id
    * filters it is the FILTERED count (`exact: true` semantics) served
    * by iterating the SAME narrowed id slice the filtered scan would
    * read — no payload, no vectors, nothing decoded above the scan.
    * Exactly ONE CountStar: the scan's readSchema emits one column, and
    * Spark asserts the scan's column count against the pushed
    * Aggregation — `SELECT COUNT(*), COUNT(*)` must decline (Spark then
    * aggregates the scanned rows as usual), as must any other aggregate
    * or a count over a limited scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]) &&
      limit.isEmpty

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (!supportCompletePushDown(agg)) false
    else { countStar = true; true }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    prunedSchema = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  /** Push `id = x` / `id IN (...)` / `id > last` to the store (A5: the
    * reference declares `supports_filters_pushdown` and then ignores the
    * filters, /root/reference/src/table.rs:174; this store really skips
    * points). `id > last` is the KEYSET SCROLL predicate — served by the
    * store instead of a deep-offset sort over fetched rows. Accepted
    * filters are EXACT, so they are not returned as residuals; everything
    * else stays a post-scan filter for Spark.
    */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    def idsOf(f: sources.Filter): Option[Set[String]] = f match {
      case sources.EqualTo("id", v: String) => Some(Set(v))
      case sources.In("id", vs) if vs != null && vs.forall(_.isInstanceOf[String]) =>
        Some(vs.map(_.asInstanceOf[String]).toSet)
      case _ => None
    }
    def lowerOf(f: sources.Filter): Option[String] = f match {
      case sources.GreaterThan("id", v: String) => Some(v)
      case _ => None
    }
    val (supported, residual) =
      filters.partition(f => idsOf(f).isDefined || lowerOf(f).isDefined)
    if (supported.nonEmpty) {
      // conjunction of pushed id predicates = set intersection
      val idSets = supported.flatMap(idsOf)
      if (idSets.nonEmpty) idFilter = Some(idSets.reduce(_ intersect _))
      // conjunction of keyset bounds = the tightest bound, under the same
      // UTF-8 byte ordering the store evaluates with
      val lowers = supported.flatMap(lowerOf)
      if (lowers.nonEmpty)
        idLower = Some(lowers.reduce((a, b) =>
          if (SparkStringOrder.gt(a, b)) a else b))
      accepted = supported
    }
    residual
  }

  override def pushedFilters(): Array[sources.Filter] = accepted

  override def build(): Scan =
    if (countStar && idFilter.isEmpty && idLower.isEmpty && pfilter.isEmpty)
      new CollectionCountScan(storeName, collection, prunedSchema)
    else if (countStar)
      new CollectionFilteredCountScan(storeName, collection, idFilter, idLower,
        pfilter)
    else
      new CollectionScan(storeName, collection, descriptor, prunedSchema, limit,
        partitions, idFilter, idLower, maxRowsPerBatch, pfilter)
}

/** Complete COUNT(*) pushdown: one partition, one row, the store's point
  * count. The read schema is the aggregate's output shape (one BIGINT per
  * pushed COUNT(*)), NOT the pruned table schema — Spark asserts the
  * column count against the pushed Aggregation.
  */
final class CollectionCountScan(storeName: String, collection: String,
                                pruned: StructType) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"CollectionCountScan($storeName.$collection)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(CollectionInputPartition(0L, 1L))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      private val store = storeName
      private val coll = collection
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false
            else {
              emitted = true
              true
            }
          override def get(): InternalRow =
            InternalRow(CollectionStores.get(store).pointCount(coll))
          override def close(): Unit = ()
        }
    }
}

/** Complete COUNT(*) pushdown over pushed id filters — the backend's
  * `count` API with a filter (`exact: true`): the reader walks the SAME
  * narrowed id slice the filtered scan would produce (id set / keyset
  * lower bound served store-side), with payload and vectors both
  * switched off, and ships ONE row back. Count cost is O(matching ids),
  * never a collection scan, and nothing is decoded.
  */
final class CollectionFilteredCountScan(
    storeName: String, collection: String,
    idFilter: Option[Set[String]], idLower: Option[String],
    pfilter: PayloadFilter = PayloadFilter.Empty)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = {
    val f = idFilter.map(s => s"ids=${s.size}").toSeq ++
      idLower.map(l => s"id>'$l'").toSeq ++
      (if (pfilter.isEmpty) Nil
       else Seq(s"filter=[${pfilter.describe}]"))
    s"CollectionFilteredCountScan($storeName.$collection, ${f.mkString(", ")})"
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(CollectionInputPartition(0L, 1L))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      private val store = storeName
      private val coll = collection
      private val ids = idFilter
      private val lower = idLower
      private val cs = pfilter
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false
            else {
              emitted = true
              true
            }
          override def get(): InternalRow =
            InternalRow(CollectionStores.get(store)
              .countMatchingFiltered(coll, ids, lower, cs))
          override def close(): Unit = ()
        }
    }
}

/** A ranked-full-text scan (read options `textrank.*`): ONE partition
  * holding the k best (id, _score) BM25 rows served by the store — the
  * retrieval face of the text payload index, model-sized by construction
  * like [[CollectionSearchScan]].
  */
final class CollectionTextRankScan(storeName: String, collection: String,
                                   spec: TextRankSpec)
    extends Scan with Batch {
  override def readSchema(): StructType = TextRankSpec.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"CollectionTextRankScan($storeName.$collection, ${spec.describe})"

  override def planInputPartitions(): Array[InputPartition] =
    Array(CollectionInputPartition(0L, spec.k.toLong))

  override def createReaderFactory(): PartitionReaderFactory = {
    val store = storeName
    val coll = collection
    val s = spec
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = CollectionStores.get(store)
            .searchTextRanked(coll, s.key, s.terms, s.k).iterator
          private var current: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) {
              val (id, score) = it.next()
              current = InternalRow(
                org.apache.spark.unsafe.types.UTF8String.fromString(id), score)
              true
            } else false
          override def get(): InternalRow = current
          override def close(): Unit = ()
        }
    }
  }
}

object TextRankSpec {
  /** (id, _score) — the ranked list is scores, not point data. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField(TextRank.ScoreCol, DoubleType, nullable = false)))
}

/** ScanBuilder of a pushed top-k search (read options `search.*`): column
  * pruning narrows the fetch like the plain scan; a pushed LIMIT tightens
  * k. SQL-level filters are NOT pushed (they compose above the scored
  * scan, post-filter semantics); payload `must` conditions arrive via the
  * `filter` READ OPTION and ride the query itself — the backend's
  * PRE-filter search, where the filter restricts the candidate set
  * before ranking.
  */
final class CollectionSearchScanBuilder(
    storeName: String, collection: String,
    descriptor: CollectionDescriptor, spec: SearchSpec,
    pfilter: PayloadFilter = PayloadFilter.Empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {

  private val fullSchema = StructType(descriptor.schema.fields :+
    StructField(SearchSpec.ScoreCol, DoubleType, nullable = false))
  private var prunedSchema: StructType = fullSchema
  private var k: Int = spec.k

  override def pruneColumns(requiredSchema: StructType): Unit =
    prunedSchema = requiredSchema

  override def pushLimit(n: Int): Boolean = { k = math.min(k, n); true }

  override def build(): Scan =
    new CollectionSearchScan(storeName, collection, descriptor,
      prunedSchema, spec.copy(k = k), pfilter)
}

/** A scored top-k scan: ONE partition holding the k best points — the
  * result of the store-side query, model-sized by construction (the
  * reference likewise consumes one `QueryPoints` response stream,
  * /root/reference/src/table.rs:279-305). Reports k rows to Catalyst so a
  * join against search results broadcasts.
  */
final class CollectionSearchScan(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType, spec: SearchSpec,
    pfilter: PayloadFilter = PayloadFilter.Empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private val pointCols = StructType(
    pruned.fields.filterNot(_.name == SearchSpec.ScoreCol))
  val fetchSpec: FetchSpec = FetchSpec.fromSchema(pointCols, descriptor)

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"CollectionSearchScan($storeName.$collection, search=${spec.describe}, " +
      (if (pfilter.isEmpty) ""
       else s"filter=[${pfilter.describe}], ") +
      s"payload=${fetchSpec.withPayload}, " +
      s"vectors=[${fetchSpec.vectorFields.mkString(",")}])"

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val rows = math.min(
      CollectionStores.get(storeName).pointCount(collection), spec.k.toLong)
    val rowWidth = pruned.fields.map(_.dataType.defaultSize.toLong).sum.max(1L)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * rowWidth)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(CollectionInputPartition(0L, spec.k.toLong))

  override def createReaderFactory(): PartitionReaderFactory = {
    val store = storeName
    val coll = collection
    val desc = descriptor
    val schema = pruned
    val fetch = fetchSpec
    val s = spec
    val cs = pfilter
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val decoder = new ScoredPointDecoder(desc, schema)
          private val it = CollectionStores.get(store)
            .searchPointsFiltered(coll, s, fetch.withPayload,
              fetch.vectorFields, cs)
            .iterator
          private var current: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { current = decoder.decode(it.next()); true }
            else false
          override def get(): InternalRow = current
          override def close(): Unit = ()
        }
    }
  }
}

final class CollectionScan(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType, limit: Option[Int], partitions: Int,
    idFilter: Option[Set[String]] = None,
    idLower: Option[String] = None,
    maxRowsPerBatch: Option[Long] = None,
    pfilter: PayloadFilter = PayloadFilter.Empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  val fetchSpec: FetchSpec = FetchSpec.fromSchema(pruned, descriptor)

  /** Runtime (join-driven) id filtering — the DSv2 analog of dynamic
    * partition pruning: when this collection joins a filtered small side
    * on `id`, Spark evaluates the other side first and hands the scan the
    * matching ids as an `In` filter BEFORE partitions are planned. The
    * store then skips every non-matching point, so the join reads only
    * the probe set instead of the full collection — at 100 TB the
    * difference between a point-lookup batch and a full scan.
    */
  private var runtimeIdFilter: Option[Set[String]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))

  override def filter(filters: Array[sources.Filter]): Unit =
    filters.foreach {
      case sources.In("id", vs) if vs != null =>
        val ids = vs.collect { case s: String => s }.toSet
        runtimeIdFilter = Some(runtimeIdFilter.fold(ids)(_ intersect ids))
      case sources.EqualTo("id", v: String) =>
        runtimeIdFilter = Some(runtimeIdFilter.fold(Set(v))(_ intersect Set(v)))
      case _ => () // non-id runtime filters: ignore, Spark re-applies them
    }

  /** The pushed-down and runtime id filters, intersected. */
  private def effectiveIdFilter: Option[Set[String]] =
    (idFilter, runtimeIdFilter) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b) => a.orElse(b)
    }

  /** Report cardinality + a size estimate to Catalyst so a join against a
    * small collection BROADCASTS instead of shuffling both sides — the
    * single biggest plan-quality lever a source can pull at cluster
    * scale (without stats DSv2 relations default to a huge size and
    * never broadcast). Rows: the store's point count, capped by a pushed
    * limit. Bytes: rows x the pruned schema's estimated row width (the
    * same defaultSize estimate Catalyst uses), so projection narrowing
    * also narrows the size estimate.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val total = CollectionStores.get(storeName).pointCount(collection)
    val rows = idFilter match {
      // a pushed id set bounds the result EXACTLY (upsert semantics: at
      // most one point per id), so a point-lookup scan — id IN (3 ids)
      // against a huge collection — reports 3 rows and gets its
      // broadcast, the very case this statistics support exists for
      case Some(ids) => math.min(total, ids.size.toLong)
      // keyset bound: genuinely no tighter bound than the full count
      case None if idLower.isDefined => total
      case None => limit.fold(total)(n => math.min(total, n.toLong))
    }
    val rowWidth = pruned.fields.map(_.dataType.defaultSize.toLong).sum.max(1L)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * rowWidth)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"CollectionScan($storeName.$collection, payload=${fetchSpec.withPayload}, " +
      s"vectors=[${fetchSpec.vectorFields.mkString(",")}], limit=$limit, " +
      s"idFilter=${idFilter.fold("none")(ids => ids.toSeq.sorted.mkString("{", ",", "}"))}, " +
      s"idLower=${idLower.getOrElse("none")}" +
      (if (pfilter.isEmpty) ")"
       else s", filter=[${pfilter.describe}])")

  override def planInputPartitions(): Array[InputPartition] = {
    val total = CollectionStores.get(storeName).pointCount(collection)
    // a pushed LIMIT caps the scan (read only the first `limit` points) —
    // but ONLY when no filter is pushed: with a filter, the first N raw
    // points may hold fewer than N matches, so the store must scan the
    // full range and apply filter-then-limit. Runtime id filters arrive
    // BEFORE this call (the DSv2 contract), so they participate too.
    val bound =
      if (effectiveIdFilter.isDefined || idLower.isDefined || pfilter.nonEmpty) total
      else limit.fold(total)(n => math.min(total, n.toLong))
    val per = math.max(1L, (bound + partitions - 1) / partitions)
    (0L until bound by per).map(start =>
      CollectionInputPartition(start, math.min(start + per, bound)): InputPartition
    ).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CollectionReaderFactory(storeName, collection, descriptor, pruned,
      fetchSpec, limit, effectiveIdFilter, idLower, pfilter)

  /** Streaming READ of the collection: a micro-batch CDC stream over the
    * store's upsert log. Offsets are log positions; each batch replays
    * log entries [start, end) — every upsert appears exactly once, in
    * ingest order, including re-upserts of an existing id. The streaming
    * complement of the A2 scan (the reference is bounded-only by
    * construction — SURVEY §2.B streaming row).
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // The shared ScanBuilder accepted id filters / limit as EXACT (no
    // residual, Spark will not re-check them). MicroBatchExecution builds
    // the stream without running filter pushdown today, so these are
    // always empty here — but if a future Spark version (or any other
    // code path) pushes them first, silently ignoring them would return
    // unfiltered rows. Fail loudly instead.
    if (idFilter.isDefined || idLower.isDefined || limit.isDefined || pfilter.nonEmpty)
      throw new UnsupportedOperationException(
        "pushed id/payload filters / limit are not supported on the streaming (CDC) read path")
    new CollectionMicroBatchStream(storeName, collection, descriptor, pruned,
      partitions, maxRowsPerBatch)
  }
}

/** Log-position offset of [[CollectionMicroBatchStream]]. */
final case class LogOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** The group-based row-level operation behind UPDATE / MERGE / predicate
  * DELETE: the whole collection is the ONE rewrite group.
  *
  * The rewrite SCAN deliberately supports column pruning ONLY — no
  * filter pushdown, no runtime filtering, no limit: Spark rewrites a
  * group by reading ALL of it (non-matching rows pass through the DML
  * unchanged), so a scan that narrowed itself to matching rows would
  * make the replacement write DROP everything it skipped. The
  * replacement WRITE buffers rows like the append path (task-commit
  * published, retry/speculation safe) and commits by REPLACING the
  * collection contents in one atomic store update.
  */
final class CollectionRowLevelOperation(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    partitions: Int,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def description(): String =
    s"CollectionRowLevelOperation($storeName.$collection, $cmd)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var pruned: StructType = descriptor.schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = requiredSchema
      override def build(): Scan =
        new CollectionRewriteScan(storeName, collection, descriptor, pruned,
          partitions)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val expected = descriptor.schema.fieldNames.toSeq
    if (info.schema().fieldNames.toSeq != expected)
      throw new IllegalArgumentException(
        s"rewrite of '$collection' expects columns ${expected.mkString("[", ",", "]")}, " +
          s"got ${info.schema().fieldNames.mkString("[", ",", "]")}")
    new WriteBuilder {
      override def build(): Write =
        new CollectionReplaceWrite(storeName, collection, descriptor,
          java.util.UUID.randomUUID().toString)
    }
  }
}

/** Full-collection scan for the rewrite read: the plain partitioned read
  * with none of the narrowing faces (see
  * [[CollectionRowLevelOperation]]'s scan contract).
  */
final class CollectionRewriteScan(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType, partitions: Int) extends Scan with Batch {

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"CollectionRewriteScan($storeName.$collection)"

  override def planInputPartitions(): Array[InputPartition] = {
    val total = CollectionStores.get(storeName).pointCount(collection)
    val per = math.max(1L, (total + partitions - 1) / partitions)
    (0L until total by per).map(start =>
      CollectionInputPartition(start, math.min(start + per, total)): InputPartition
    ).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CollectionReaderFactory(storeName, collection, descriptor, pruned,
      FetchSpec.fromSchema(pruned, descriptor), None, None, None)
}

/** The rewrite's replacement write: same executor-side buffering as the
  * append path, but commit REPLACES the collection with the buffered
  * rows (one atomic store update; the store logs the CDC diff).
  */
final class CollectionReplaceWrite(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    writeId: String) extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // Spark's group-based ReplaceData physically prepends the
    // `__row_operation` INT marker to every replacement row even though
    // LogicalWriteInfo.schema() reports the plain table schema — tell
    // the (name-indexed) writer the REAL row layout; the marker column
    // is simply never read.
    val rowShape = StructType(
      StructField("__row_operation", IntegerType, nullable = false) +:
      descriptor.schema.fields)
    new CollectionDataWriterFactory(descriptor, rowShape, writeId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val pts = CollectionWriteBuffers.drain(writeId).map(_.point)
    CollectionStores.update(storeName) { s0 =>
      val coll = AliasedCollectionStore.resolve(s0, collection)
      AliasedCollectionStore.mapInner(s0) {
        case mem: InMemoryCollectionStore =>
          mem.replacedWith(coll, pts)
        case other => throw new UnsupportedOperationException(
          s"store ${other.getClass.getName} does not accept local rewrites")
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    CollectionWriteBuffers.drain(writeId)
    ()
  }
}

/** Point-in-time read (asOfSeq=N): serve the collection AS OF a
  * change-log position via [[InMemoryCollectionStore.stateAt]].
  */
final class HistoricalScanBuilder(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    seq: Long, partitions: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var pruned: StructType = descriptor.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema

  override def build(): Scan = new HistoricalScan(storeName, collection,
    descriptor, pruned, seq, partitions)
}

final class HistoricalScan(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType, seq: Long, partitions: Int) extends Scan with Batch {

  private def snapshot(): IndexedSeq[Point] =
    CollectionStores.get(storeName) match {
      case mem: InMemoryCollectionStore => mem.stateAt(collection, seq)
      case other => throw new UnsupportedOperationException(
        s"store ${other.getClass.getName} does not serve point-in-time reads")
    }

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"CollectionHistoricalScan($storeName.$collection, asOfSeq=$seq)"

  override def planInputPartitions(): Array[InputPartition] = {
    val total = snapshot().size.toLong
    if (total == 0L) Array.empty
    else {
      val per = math.max(1L, (total + partitions - 1) / partitions)
      (0L until total by per).map(s =>
        CollectionInputPartition(s, math.min(s + per, total)): InputPartition
      ).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val store = storeName
    val coll = collection
    val desc = descriptor
    val schema = pruned
    val at = seq
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[CollectionInputPartition]
        new PartitionReader[InternalRow] {
          // the local stand-in replays the prefix per partition; a real
          // backend hands each partition a snapshot-pinned range read
          private val it = (CollectionStores.get(store) match {
            case mem: InMemoryCollectionStore => mem.stateAt(coll, at)
            case other => throw new UnsupportedOperationException(
              s"store ${other.getClass.getName} does not serve point-in-time reads")
          }).iterator.slice(p.from.toInt, p.until.toInt)
          private val decoder = new PointDecoder(desc, schema)
          private var current: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { current = decoder.decode(it.next()); true }
            else false
          override def get(): InternalRow = current
          override def close(): Unit = ()
        }
      }
    }
  }
}

/** Scan builder of the CDC face (cdc=true): serves the CHANGE LOG —
  * `_op`/`_seq` + collection columns — as a batch (the whole log as a
  * table: the op-history audit read) or a micro-batch stream (the
  * incremental form, deletes included). Column pruning only: the log is
  * an ordered replay domain, so id filters / limits / aggregates stay
  * Spark-side where they belong.
  */
final class CdcScanBuilder(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    partitions: Int, maxRowsPerBatch: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var pruned: StructType = CdcSchema.of(descriptor)

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema

  override def build(): Scan =
    new CdcScan(storeName, collection, descriptor, pruned, partitions,
      maxRowsPerBatch)
}

final class CdcScan(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType, partitions: Int, maxRowsPerBatch: Option[Long])
    extends Scan with Batch {

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"CollectionCdcScan($storeName.$collection)"

  override def planInputPartitions(): Array[InputPartition] = {
    // [logStart, logSize): a compacted log serves only its retained tail
    // (positions are global and preserved across compaction)
    val start = CollectionStores.get(storeName).logStart(collection)
    val total = CollectionStores.get(storeName).logSize(collection)
    if (total <= start) Array.empty
    else {
      val per = math.max(1L, (total - start + partitions - 1) / partitions)
      (start until total by per).map(s =>
        CollectionInputPartition(s, math.min(s + per, total)): InputPartition
      ).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcLogReaderFactory(storeName, collection, descriptor, pruned)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CollectionMicroBatchStream(storeName, collection, descriptor, pruned,
      partitions, maxRowsPerBatch, cdc = true)
}

final class CollectionMicroBatchStream(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType, partitions: Int,
    maxRowsPerBatch: Option[Long] = None,
    cdc: Boolean = false) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // a fresh query starts at the first REPLAYABLE position (the
  // compaction point once the log has been truncated; 0 otherwise). A
  // restart from a checkpoint that predates a later compaction fails
  // loudly in logEntries — silent partial replay would be data loss.
  override def initialOffset(): Offset =
    LogOffset(CollectionStores.get(storeName).logStart(collection))

  /** Log head pinned at query start under Trigger.AvailableNow: the
    * bounded run drains exactly the entries present when it began (in
    * capped epochs if `maxRowsPerBatch` is set) and then stops, even if
    * writers keep appending. Without this trait Spark falls back to one
    * giant Trigger.Once batch and IGNORES the read limit.
    */
  private var availableNowHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(CollectionStores.get(storeName).logSize(collection))

  /** Admission-controlled end offset: each micro-batch admits at most
    * `maxRowsPerBatch` log entries past `start`, so an unbounded backlog
    * (a huge upsert log replayed from offset 0 — the restart-after-
    * downtime case) drains as a sequence of bounded, individually
    * checkpointed epochs instead of one giant batch that must fit in
    * cluster memory at once. Without the option the default read limit
    * is all-available (the pre-admission-control behavior).
    */
  override def latestOffset(start: Offset, limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val head = availableNowHead.getOrElse(
      CollectionStores.get(storeName).logSize(collection))
    val from = start.asInstanceOf[LogOffset].n
    val end = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(head, from + r.maxRows())
      case _ => head
    }
    LogOffset(end)
  }

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    maxRowsPerBatch.fold(
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())(
      n => org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(n))

  /** True head of the log regardless of the admission cap — Spark's
    * progress reporting reads backlog/lag from this. */
  override def reportLatestOffset(): Offset =
    LogOffset(CollectionStores.get(storeName).logSize(collection))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-controlled form")

  override def deserializeOffset(json: String): Offset = LogOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (from, until) = (start.asInstanceOf[LogOffset].n, end.asInstanceOf[LogOffset].n)
    if (until <= from) Array.empty
    else {
      val per = math.max(1L, (until - from + partitions - 1) / partitions)
      (from until until by per).map(s =>
        CollectionInputPartition(s, math.min(s + per, until)): InputPartition
      ).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (cdc) new CdcLogReaderFactory(storeName, collection, descriptor, pruned)
    else new CollectionLogReaderFactory(storeName, collection, descriptor, pruned)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class CollectionLogReaderFactory(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CollectionInputPartition]
    new PartitionReader[InternalRow] {
      private val it = CollectionStores.get(storeName)
        .logEntries(collection, p.from, p.until)
      private val decoder = new PointDecoder(descriptor, pruned)
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val e = it.next()
          // the plain (point-shaped) stream has no way to REPRESENT a
          // delete — emitting the tombstone as a point would resurrect
          // the id downstream, skipping it would silently diverge from
          // the store. A log that contains deletes must be read on its
          // CDC face.
          if (e.op != LogOps.Upsert)
            throw new UnsupportedOperationException(
              s"change log of '$collection' contains ${e.op} entries; " +
                "read with option cdc=true to receive the _op column")
          current = decoder.decode(e.point); true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** The CDC-face reader: every log entry decodes, deletes included, with
  * `_op`/`_seq` spliced in by [[LogEntryDecoder]]. Shared by the batch
  * (whole-log) and micro-batch (incremental) CDC scans.
  */
final class CdcLogReaderFactory(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CollectionInputPartition]
    new PartitionReader[InternalRow] {
      private val it = CollectionStores.get(storeName)
        .logEntries(collection, p.from, p.until)
      private val decoder = new LogEntryDecoder(descriptor, pruned)
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = decoder.decode(it.next()); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

final case class CollectionInputPartition(from: Long, until: Long) extends InputPartition

final class CollectionReaderFactory(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType, fetch: FetchSpec, limit: Option[Int],
    idFilter: Option[Set[String]], idLower: Option[String],
    pfilter: PayloadFilter = PayloadFilter.Empty)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CollectionInputPartition]
    new CollectionPartitionReader(storeName, collection, descriptor, pruned,
      fetch, p, limit, idFilter, idLower, pfilter)
  }
}

/** Point -> InternalRow for a pruned schema: one extractor per output
  * column, dispatched ONCE from the descriptor (the A6 analog of the
  * reference's schema-driven FieldExtractor table,
  * /root/reference/src/arrow/deserialize.rs:113-148); absent fields yield
  * NULL, never empty arrays (deserialize.rs:245-284). Shared by the batch
  * and streaming partition readers.
  */
final class PointDecoder(descriptor: CollectionDescriptor, pruned: StructType)
    extends Serializable {

  private type Extractor = Point => Any
  private def denseData(a: Array[Float]): GenericArrayData =
    new GenericArrayData(a.map(x => x: Any))

  private val extractors: Array[Extractor] = pruned.fieldNames.map { name =>
    val sparseOwner = descriptor.fields.collectFirst {
      case SparseField(n) if name == s"${n}_indices" || name == s"${n}_values" => n
    }
    name match {
      case "id" => (p: Point) => UTF8String.fromString(p.id)
      case "payload" => (p: Point) => p.payload.map(UTF8String.fromString).orNull
      case _ if sparseOwner.isDefined =>
        val owner = sparseOwner.get
        if (name.endsWith("_indices"))
          (p: Point) => p.sparse.get(owner)
            .map(s => new GenericArrayData(s._1.map(x => x: Any))).orNull
        else
          (p: Point) => p.sparse.get(owner)
            .map(s => new GenericArrayData(s._2.map(x => x: Any))).orNull
      case n if descriptor.fields.exists { case MultiField(m, _) => m == n; case _ => false } =>
        (p: Point) => p.multi.get(n)
          .map(vs => new GenericArrayData(vs.map(denseData(_): Any))).orNull
      case n =>
        // dense column; stores key vectors by physical column name, so an
        // unnamed collection's single vector sits under "vector"
        (p: Point) => p.dense.get(n).map(denseData).orNull
    }
  }.toArray

  /** One value per pruned column, in schema order (the decode spine the
    * CDC decoder splices `_op`/`_seq` around).
    */
  def decodeValues(p: Point): Array[Any] = extractors.map(_(p))

  def decode(p: Point): InternalRow =
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      decodeValues(p)))
}

/** LogEntry -> InternalRow for a pruned CDC schema: `_op`/`_seq` decode
  * from the entry itself, every other column through the shared
  * [[PointDecoder]] (a delete tombstone carries only its id — its other
  * columns are NULL, same contract as an absent field).
  */
final class LogEntryDecoder(descriptor: CollectionDescriptor, pruned: StructType)
    extends Serializable {
  private val pointCols =
    StructType(pruned.fields.filterNot(f =>
      f.name == CdcSchema.OpCol || f.name == CdcSchema.SeqCol))
  private val pd = new PointDecoder(descriptor, pointCols)
  // 0 = _op, 1 = _seq, 2 = next point-decoded column
  private val colKinds: Array[Int] = pruned.fieldNames.map {
    case CdcSchema.OpCol => 0
    case CdcSchema.SeqCol => 1
    case _ => 2
  }

  def decode(e: LogEntry): InternalRow = {
    val pointVals = pd.decodeValues(e.point)
    val out = new Array[Any](colKinds.length)
    var i = 0
    var pi = 0
    while (i < colKinds.length) {
      colKinds(i) match {
        case 0 => out(i) = UTF8String.fromString(e.op)
        case 1 => out(i) = e.seq
        case _ => out(i) = pointVals(pi); pi += 1
      }
      i += 1
    }
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }
}

/** (Point, score) -> InternalRow for a pruned search schema: `_score`
  * decodes from the pair, every other column through the shared
  * [[PointDecoder]] — the ScoredPoint face of the A6 decode spine.
  */
final class ScoredPointDecoder(descriptor: CollectionDescriptor,
                               pruned: StructType) extends Serializable {
  private val pointCols =
    StructType(pruned.fields.filterNot(_.name == SearchSpec.ScoreCol))
  private val pd = new PointDecoder(descriptor, pointCols)
  private val isScore: Array[Boolean] =
    pruned.fieldNames.map(_ == SearchSpec.ScoreCol)

  def decode(scored: (Point, Double)): InternalRow = {
    val pointVals = pd.decodeValues(scored._1)
    val out = new Array[Any](isScore.length)
    var i = 0
    var pi = 0
    while (i < isScore.length) {
      if (isScore(i)) out(i) = scored._2
      else { out(i) = pointVals(pi); pi += 1 }
      i += 1
    }
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }
}

final class CollectionPartitionReader(
    storeName: String, collection: String, descriptor: CollectionDescriptor,
    pruned: StructType, fetch: FetchSpec, part: CollectionInputPartition,
    limit: Option[Int], idFilter: Option[Set[String]], idLower: Option[String],
    pfilter: PayloadFilter = PayloadFilter.Empty)
    extends PartitionReader[InternalRow] {

  private val it = CollectionStores.get(storeName).queryPointsFiltered(
    collection, part.from, part.until, fetch.withPayload, fetch.vectorFields,
    limit, idFilter, idLower, pfilter)

  private val decoder = new PointDecoder(descriptor, pruned)
  private var current: InternalRow = _

  override def next(): Boolean =
    if (it.hasNext) {
      current = decoder.decode(it.next())
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
