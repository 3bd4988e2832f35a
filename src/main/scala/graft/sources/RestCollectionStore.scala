package graft.sources

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.collections.{CollectionDescriptor, DenseField, MultiField, SparseField, VectorFieldSpec}

/** JSON wire forms for the REST collection protocol, modeled on the
  * public Qdrant REST API the reference's gRPC client talks to
  * (/root/reference/src/table.rs:48 `Qdrant::from_url("http://...")`;
  * the reference uses the gRPC port of the same service — this engine
  * speaks the HTTP/JSON surface, same resources, same semantics):
  *
  *   - collection info: `config.params.vectors` maps field name to
  *     `{"size": dim, "distance": "Cosine"}` (a bare config object for an
  *     unnamed single-vector collection), multi-vector fields carry
  *     `multivector_config.comparator = "max_sim"`, sparse fields live
  *     under `config.params.sparse_vectors` — Qdrant's published
  *     collection-config shape.
  *   - points: `{"id", "payload", "vector": {name: <dense [..] | multi
  *     [[..]] | sparse {"indices": [...], "values": [...]}>}}` — the
  *     named-vectors point shape. Parse dispatch is DESCRIPTOR-keyed
  *     (never value-shape-guessed): an empty dense `[]` and an empty
  *     multi `[]` are indistinguishable on the wire, exactly the §1.3
  *     name-suffix hazard this engine already fixes in its decoder.
  *
  * One documented deviation: `payload` crosses the wire as the RAW JSON
  * TEXT (a JSON string value), not a re-parsed object. The engine's
  * payload column is a JSON string and the oracle gates compare it
  * byte-for-byte — re-serializing through an object tree could reorder
  * keys or normalize number forms and silently corrupt payload fidelity.
  * String escaping round-trips the exact bytes.
  */
private[sources] object CollectionWire {

  /** Deterministic JSON-object payload merge — the backend's set_payload
    * semantics: base fields keep their positions (patched ones replaced
    * in place), patch-only fields append in patch order. A point with no
    * payload starts from the empty object.
    */
  def mergePayload(base: Option[String], patch: String): String = {
    val pf = JsonMethods.parse(patch) match {
      case JObject(kvs) => kvs
      case other => throw new IllegalArgumentException(
        s"set_payload patch must be a JSON object, got $other")
    }
    val bf = base.map(JsonMethods.parse(_)) match {
      case Some(JObject(kvs)) => kvs
      case None => Nil
      case Some(other) => throw new IllegalArgumentException(
        s"cannot patch non-object payload $other")
    }
    val replaced = bf.map { case (k, v) =>
      k -> pf.collectFirst { case (pk, pv) if pk == k => pv }.getOrElse(v)
    }
    val added = pf.filterNot { case (k, _) => bf.exists(_._1 == k) }
    JsonMethods.compact(JsonMethods.render(JObject(replaced ++ added)))
  }

  /** The backend's delete_payload: drop the named top-level fields from a
    * payload (remaining fields keep their order). A payload left with no
    * fields renders as the empty object — the point still HAS a payload,
    * matching the backend's distinction from clear_payload.
    */
  def deletePayloadKeys(base: Option[String], keys: Set[String]): Option[String] =
    base.map { b =>
      JsonMethods.parse(b) match {
        case JObject(kvs) => JsonMethods.compact(JsonMethods.render(
          JObject(kvs.filterNot { case (k, _) => keys(k) })))
        case other => throw new IllegalArgumentException(
          s"cannot delete keys from non-object payload $other")
      }
    }

  /** Engine metric name -> Qdrant distance name (and back, total). */
  private val toDistance = Map("cosine" -> "Cosine", "dot" -> "Dot", "euclid" -> "Euclid")
  private val fromDistance = toDistance.map(_.swap)

  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalArgumentException(s"expected number, got $other")
  }

  private def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d.toLong
    case JDecimal(d) => d.toLong
    case other => throw new IllegalArgumentException(s"expected integer, got $other")
  }

  private def floats(v: JValue): Array[Float] = v match {
    case JArray(xs) => xs.map(x => num(x).toFloat).toArray
    case other => throw new IllegalArgumentException(s"expected float array, got $other")
  }

  // Float -> Double widening is exact, so Double.toString's shortest
  // round-trip form parses back to the identical float on the other side.
  private def jFloats(a: Array[Float]): JArray =
    JArray(a.toList.map(f => JDouble(f.toDouble)))

  def okEnvelope(result: JValue): String =
    JsonMethods.compact(JObject("result" -> result, "status" -> JString("ok")))

  def errEnvelope(msg: String): String =
    JsonMethods.compact(JObject("status" -> JObject("error" -> JString(msg))))

  /** Unwrap `{"result": ..., "status": "ok"}`. */
  def result(body: String): JValue = JsonMethods.parse(body) \ "result"

  def errorOf(body: String): String =
    // a gateway/proxy error body is not necessarily our JSON envelope —
    // never let error EXTRACTION throw over the error itself
    try JsonMethods.parse(body) \ "status" \ "error" match {
      case JString(m) => m
      case _ => body.take(200)
    } catch { case _: Exception => body.take(200) }

  // ---- collection info ----------------------------------------------------

  private def denseConfig(f: DenseField): JObject =
    JObject("size" -> JInt(f.dim),
      "distance" -> JString(toDistance.getOrElse(f.metric, f.metric)))

  def descriptorJson(desc: CollectionDescriptor, points: Long): JValue = {
    val dense = desc.fields.collect { case f: DenseField => f }
    val multi = desc.fields.collect { case f: MultiField => f }
    val sparse = desc.fields.collect { case f: SparseField => f }
    val vectors: JValue =
      if (!desc.named && dense.size == 1 && multi.isEmpty)
        // unnamed single-vector collection: a bare config object (Qdrant's
        // shape); "name" is an extension key carrying the internal field
        // name so the descriptor round-trips exactly
        denseConfig(dense.head) ~~ ("name" -> JString(dense.head.name))
      else JObject(
        (dense.map(f => f.name -> (denseConfig(f): JValue)) ++
          multi.map(f => f.name -> (JObject("size" -> JInt(f.dim),
            "distance" -> JString("Cosine"),
            "multivector_config" -> JObject(
              "comparator" -> JString("max_sim"))): JValue))).toList)
    JObject(
      "config" -> JObject("params" -> JObject(
        "vectors" -> vectors,
        "sparse_vectors" -> JObject(
          sparse.map(f => f.name -> (JObject(): JValue)).toList))),
      "points_count" -> JLong(points))
  }

  private implicit class ObjOps(o: JObject) {
    def ~~(kv: (String, JValue)): JObject = JObject(o.obj :+ kv)
  }

  def parseDescriptor(name: String, result: JValue): CollectionDescriptor = {
    val params = result \ "config" \ "params"
    def fieldOf(n: String, cfg: JValue): VectorFieldSpec = {
      val dim = long(cfg \ "size").toInt
      cfg \ "multivector_config" match {
        case JNothing | JNull => cfg \ "distance" match {
          case JString(d) => DenseField(n, dim, fromDistance.getOrElse(d, d))
          case _ => DenseField(n, dim)
        }
        case _ => MultiField(n, dim)
      }
    }
    val (named, denseMulti) = params \ "vectors" match {
      case o @ JObject(kvs) if (o \ "size") != JNothing =>
        // bare config = unnamed single-vector collection
        val n = o \ "name" match { case JString(s) => s; case _ => "vector" }
        (false, Seq(fieldOf(n, o)))
      case JObject(kvs) => (true, kvs.map { case (n, cfg) => fieldOf(n, cfg) })
      case JNothing | JNull => (true, Seq.empty)
      case other => throw new IllegalArgumentException(s"bad vectors config: $other")
    }
    val sparse = params \ "sparse_vectors" match {
      case JObject(kvs) => kvs.map { case (n, _) => SparseField(n) }
      case _ => Seq.empty
    }
    CollectionDescriptor(name, denseMulti ++ sparse, named)
  }

  // ---- points -------------------------------------------------------------

  def pointJson(p: Point, score: Option[Double] = None): JValue = {
    val vec = JObject(
      p.dense.toList.sortBy(_._1).map { case (n, v) => n -> (jFloats(v): JValue) } ++
        p.multi.toList.sortBy(_._1).map { case (n, vs) =>
          n -> (JArray(vs.toList.map(jFloats)): JValue)
        } ++
        p.sparse.toList.sortBy(_._1).map { case (n, (is, vs)) =>
          n -> (JObject("indices" -> JArray(is.toList.map(i => JInt(i))),
            "values" -> jFloats(vs)): JValue)
        })
    val base = List("id" -> (JString(p.id): JValue)) ++
      p.payload.map(pl => "payload" -> (JString(pl): JValue)) ++
      (if (vec.obj.isEmpty) Nil else List("vector" -> (vec: JValue))) ++
      score.map(s => "score" -> (JDouble(s): JValue))
    JObject(base)
  }

  /** Descriptor-keyed point parse: field kind decides how the wire value
    * decodes, never the value's shape.
    */
  def parsePoint(desc: CollectionDescriptor, v: JValue): Point = {
    val id = v \ "id" match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"point without string id: $other")
    }
    val payload = v \ "payload" match { case JString(s) => Some(s); case _ => None }
    val kinds: Map[String, VectorFieldSpec] = desc.fields.map(f => f.name -> f).toMap
    var dense = Map.empty[String, Array[Float]]
    var multi = Map.empty[String, Array[Array[Float]]]
    var sparse = Map.empty[String, (Array[Int], Array[Float])]
    v \ "vector" match {
      case JObject(kvs) => kvs.foreach { case (n, fv) =>
        kinds.get(n) match {
          case Some(_: DenseField) => dense += n -> floats(fv)
          case Some(_: MultiField) => multi += n -> (fv match {
            case JArray(rows) => rows.map(floats).toArray
            case other => throw new IllegalArgumentException(s"bad multi vector: $other")
          })
          case Some(_: SparseField) => sparse += n -> ((fv \ "indices" match {
            case JArray(is) => is.map(i => long(i).toInt).toArray
            case other => throw new IllegalArgumentException(s"bad sparse indices: $other")
          }, floats(fv \ "values")))
          case None => throw new IllegalArgumentException(
            s"collection '${desc.name}' has no vector field '$n'")
        }
      }
      case JNothing | JNull => ()
      case other => throw new IllegalArgumentException(s"bad vector map: $other")
    }
    Point(id, payload, dense, multi, sparse)
  }

  def parseScored(desc: CollectionDescriptor, v: JValue): (Point, Double) =
    (parsePoint(desc, v), num(v \ "score"))

  def logEntryJson(e: LogEntry): JValue =
    JObject("op" -> JString(e.op), "seq" -> JLong(e.seq),
      "point" -> pointJson(e.point))

  def parseLogEntry(desc: CollectionDescriptor, v: JValue): LogEntry =
    LogEntry(v \ "op" match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"bad log op: $other")
    }, parsePoint(desc, v \ "point"), long(v \ "seq"))

  def optLong(v: JValue): Option[Long] =
    v match { case JNothing | JNull => None; case x => Some(long(x)) }

  def optStr(v: JValue): Option[String] =
    v match { case JString(s) => Some(s); case _ => None }

  /** The payload filter object on the wire — `must` / `must_not` lists
    * plus `min_should` `{min_count, conditions}`, one `{key, op, value}`
    * per condition, both directions: the service evaluates EXACTLY the
    * filter the client composed.
    */
  private def condList(conds: Seq[PayloadCondition]): JValue =
    JArray(conds.toList.map(c =>
      JObject("key" -> JString(c.key), "op" -> JString(c.op),
        "value" -> JString(c.value)): JValue))

  def filterJson(pf: PayloadFilter): List[(String, JValue)] =
    (if (pf.must.isEmpty) Nil else List("must" -> condList(pf.must))) ++
      (if (pf.mustNot.isEmpty) Nil
       else List("must_not" -> condList(pf.mustNot))) ++
      pf.minShould.toList.map { case (n, cs) =>
        "min_should" -> (JObject("min_count" -> JInt(n),
          "conditions" -> condList(cs)): JValue)
      }

  private def parseCondList(v: JValue, clause: String): Seq[PayloadCondition] =
    arr(v).map { c =>
      def part(k: String) = optStr(c \ k).getOrElse(
        throw new IllegalArgumentException(s"$clause condition missing $k: $c"))
      PayloadCondition(part("key"), part("op"), part("value"))
    }

  def parseFilter(filter: JValue): PayloadFilter =
    PayloadFilter(
      parseCondList(filter \ "must", "must"),
      parseCondList(filter \ "must_not", "must_not"),
      filter \ "min_should" match {
        case JNothing | JNull => None
        case ms => Some((
          optLong(ms \ "min_count").getOrElse(
            throw new IllegalArgumentException(s"min_should missing min_count: $ms"))
            .toInt,
          parseCondList(ms \ "conditions", "min_should")))
      })

  // ---- verb codec ---------------------------------------------------------

  import StoreVerb._

  private def arr(v: JValue): List[JValue] = v match { case JArray(xs) => xs; case _ => Nil }
  private def strs(v: JValue): List[String] = arr(v).flatMap(optStr)
  private def jStrs(xs: Iterable[String]): JValue = JArray(xs.toList.map(JString(_)))
  private def idSet(xs: Set[String]): JValue = jStrs(xs.toList.sorted)
  private def jLongs(xs: Iterable[Long]): JValue = JArray(xs.toList.map(JLong(_)))
  private def longs(v: JValue): Array[Long] = arr(v).flatMap(optLong).toArray
  private def nums(v: JValue): Array[Double] = v match {
    case JArray(xs) => xs.map(num).toArray
    case other => throw new IllegalArgumentException(s"expected number array, got $other")
  }
  private def optNum(v: JValue): Option[Double] = v match {
    case JDouble(_) | JInt(_) | JLong(_) | JDecimal(_) => Some(num(v))
    case _ => None
  }
  private def required[T](b: JValue, k: String)(get: JValue => Option[T]): T =
    get(b \ k).getOrElse(throw new IllegalArgumentException(s"request requires '$k'"))
  private def reqStr(b: JValue, k: String): String = required(b, k)(optStr)
  private def reqStrs(b: JValue, k: String): List[String] =
    required(b, k) { case JArray(xs) => Some(xs.flatMap(optStr)); case _ => None }
  private def intOr(b: JValue, k: String, d: Int): Int = optLong(b \ k).fold(d)(_.toInt)
  private def status(s: String): JValue = JObject("status" -> JString(s))

  /** The `filter` object: the id vocabulary (`has_id`, keyset `id_gt`)
    * plus the payload conditions — absent when empty.
    */
  private def filterField(ids: Option[Set[String]], lower: Option[String],
                          pf: PayloadFilter): List[JField] = {
    val f = ids.toList.map(s => "has_id" -> idSet(s)) ++
      lower.toList.map(b => "id_gt" -> (JString(b): JValue)) ++ filterJson(pf)
    if (f.isEmpty) Nil else List("filter" -> JObject(f))
  }

  /** A query spec's head fields (query, using, limit, params) and tail
    * fields (offset, score_threshold). A SPARSE query ships qdrant's
    * {indices, values} object, a MULTI query the row set (the service
    * re-pools the candidate key), dense the plain value array.
    */
  private def specHead(sp: SearchSpec): List[JField] = List(
    "query" -> (sp.multiQuery match {
      case Some(qm) => JArray(qm.toList.map(r => JArray(r.toList.map(JDouble(_)))))
      case None => sp.sparseIndices match {
        case Some(qi) => JObject(
          "indices" -> JArray(qi.toList.map(i => JInt(BigInt(i)))),
          "values" -> JArray(sp.query.toList.map(JDouble(_))))
        case None => JArray(sp.query.toList.map(JDouble(_)))
      }
    }),
    "using" -> JString(sp.field),
    "limit" -> JInt(sp.k),
    "params" -> JObject("metric" -> JString(sp.metric)))

  private def specTail(sp: SearchSpec): List[JField] =
    (if (sp.offset > 0) List("offset" -> (JInt(sp.offset): JValue)) else Nil) ++
      sp.scoreThreshold.map(t => "score_threshold" -> (JDouble(t): JValue)).toList

  /** Parse a query spec; a sparse or multi query defaults to `dot`. */
  private def parseSpec(b: JValue): SearchSpec = {
    val (values, sparse, multi) = b \ "query" match {
      case JArray(xs) if xs.nonEmpty && xs.forall(_.isInstanceOf[JArray]) =>
        val rows = xs.map(nums).toArray
        (SearchSpec.poolRows(rows), None, Some(rows))
      case q @ JArray(_) => (nums(q), None, None)
      case o: JObject =>
        (nums(o \ "values"), Some(nums(o \ "indices").map(_.toInt)), None)
      case other => throw new IllegalArgumentException(s"missing query vector: $other")
    }
    val metric = optStr(b \ "params" \ "metric")
      .getOrElse(if (sparse.isDefined || multi.isDefined) "dot" else "cosine")
    SearchSpec(reqStr(b, "using"), values, metric, intOr(b, "limit", 10),
      intOr(b, "offset", 0), optNum(b \ "score_threshold"), sparse, multi)
  }

  private def selection(wp: Boolean, vf: Seq[String]): List[JField] =
    List("with_payload" -> JBool(wp), "with_vector" -> jStrs(vf))

  private def textArgs(key: String, terms: Seq[String]): List[JField] =
    List("key" -> JString(key), "terms" -> jStrs(terms))

  private def rankDials(k: Int, k1: Double, b: Double): List[JField] =
    List("k" -> JInt(k), "k1" -> JDouble(k1), "b" -> JDouble(b))

  private def pointsOf(b: JValue, desc: CollectionDescriptor): List[Point] =
    required(b, "points") { case JArray(ps) => Some(ps.map(parsePoint(desc, _))); case _ => None }

  /** Client side: verb -> (HTTP method, path, body) — the Qdrant-shaped
    * resource each verb lives at.
    */
  def request(v: StoreVerb[_]): (String, String, JValue) = {
    def col(c: String) = s"/collections/$c"
    def pts(c: String) = s"/collections/$c/points"
    v match {
      case Names() => ("GET", "/collections", JNothing)
      case Info(c) => ("GET", col(c), JNothing)
      case Count(c) => ("POST", pts(c) + "/count", JObject())
      case CountFiltered(c, ids, lower, pf) =>
        ("POST", pts(c) + "/count", JObject(filterField(ids, lower, pf)))
      case Scroll(c, lo, hi, wp, vf, limit, ids, lower, pf) =>
        ("POST", pts(c) + "/scroll", JObject(
          ("range" -> JArray(List(JLong(lo), JLong(hi)))) :: selection(wp, vf) ++
            limit.map(n => "limit" -> JInt(n)) ++ filterField(ids, lower, pf)))
      case Search(c, spec, wp, vf, pf) =>
        ("POST", pts(c) + "/query", JObject(specHead(spec) ++ selection(wp, vf) ++
          filterField(None, None, pf) ++ specTail(spec)))
      case SearchBatch(c, specs, wp, vf) =>
        ("POST", pts(c) + "/query/batch", JObject(("searches" -> JArray(specs.toList
          .map(sp => JObject(specHead(sp) ++ specTail(sp))))) :: selection(wp, vf)))
      case Facet(c, key, limit, pf) =>
        ("POST", pts(c) + "/facet", JObject(List[JField]("key" -> JString(key),
          "limit" -> JInt(limit)) ++ filterField(None, None, pf)))
      case FacetFor(c, key, values, pf) =>
        ("POST", pts(c) + "/facet/values", JObject(List[JField]("key" -> JString(key),
          "values" -> idSet(values)) ++ filterField(None, None, pf)))
      case TextRanked(c, key, terms, k, k1, b) =>
        ("POST", pts(c) + "/textrank", JObject(textArgs(key, terms) ++ rankDials(k, k1, b)))
      case TextPartials(c, key, terms) =>
        ("POST", pts(c) + "/textrank/partials", JObject(textArgs(key, terms)))
      case TextStats(c, key, terms) =>
        ("POST", pts(c) + "/textrank/stats", JObject(textArgs(key, terms)))
      case TextTopK(c, key, terms, k, g, k1, b) =>
        ("POST", pts(c) + "/textrank/topk", JObject(textArgs(key, terms) ++
          rankDials(k, k1, b) ++ List("n" -> JLong(g.n), "total" -> JLong(g.totalLen),
            "dfs" -> jLongs(g.dfs))))
      case Upsert(c, ps) => ("PUT", pts(c), JObject("points" -> JArray(ps.toList.map(pointJson(_)))))
      case Delete(c, ids) => ("POST", pts(c) + "/delete", JObject("points" -> idSet(ids)))
      case Truncate(c) => ("POST", pts(c) + "/delete", JObject("all" -> JBool(true)))
      case Compact(c, upTo) => ("POST", col(c) + "/log/compact", JObject("up_to" -> JLong(upTo)))
      case Optimize(it) => ("POST", "/optimize", JObject("ivf_max_iter" -> JInt(it)))
      case CreateSnapshot(c, path, storage) =>
        ("POST", col(c) + "/snapshot", JObject(("path" -> JString(path)) ::
          (if (storage) List("kind" -> JString("storage")) else Nil)))
      case RecoverSnapshot(c, path, dir, nprobe, candK, ef, hnswK) =>
        ("POST", col(c) + "/snapshot/recover", JObject("path" -> JString(path),
          "dir" -> JString(dir), "ivf_nprobe" -> JInt(nprobe),
          "ivf_candidate_k" -> JInt(candK), "hnsw_ef" -> JInt(ef),
          "hnsw_candidate_k" -> JInt(hnswK)))
      case VerifySnapshot(c, path) =>
        ("POST", col(c) + "/snapshot/verify", JObject("path" -> JString(path)))
      case LogStart(c) => ("GET", col(c) + "/log/info", JNothing)
      case LogSize(c) => ("GET", col(c) + "/log/info", JNothing)
      case LogEntries(c, from, until) =>
        ("GET", col(c) + s"/log?from=$from&until=$until", JNothing)
      case CreateCollection(desc) =>
        ("PUT", col(desc.name), descriptorJson(desc, 0L) \ "config" \ "params")
      case DropCollection(c) => ("DELETE", col(c), JObject())
      case UpdateAliases(actions) =>
        ("POST", "/collections/aliases", JObject("actions" -> JArray(actions.toList.map {
          case AliasedCollectionStore.CreateAlias(a, c) => JObject("create_alias" ->
            JObject("alias_name" -> JString(a), "collection_name" -> JString(c)))
          case AliasedCollectionStore.DeleteAlias(a) =>
            JObject("delete_alias" -> JObject("alias_name" -> JString(a)))
        })))
      case ListAliases(None) => ("GET", "/aliases", JNothing)
      case ListAliases(Some(c)) => ("GET", col(c) + "/aliases", JNothing)
      case SetPayload(c, ids, patch) => ("POST", pts(c) + "/payload",
        JObject("payload" -> JsonMethods.parse(patch), "points" -> idSet(ids)))
      case DeletePayload(c, ids, keys) => ("POST", pts(c) + "/payload/delete",
        JObject("keys" -> idSet(keys), "points" -> idSet(ids)))
      case ClearPayload(c, ids) =>
        ("POST", pts(c) + "/payload/clear", JObject("points" -> idSet(ids)))
      case UpdateVectors(c, ups) => ("PUT", pts(c) + "/vectors",
        JObject("points" -> JArray(ups.toList.map(pointJson(_)))))
      case DeleteVectors(c, ids, fields) => ("POST", pts(c) + "/vectors/delete",
        JObject("vectors" -> idSet(fields), "points" -> idSet(ids)))
    }
  }

  /** Service side: (HTTP method, path segments, body, query) -> verb.
    * `store` supplies the descriptor a point body parses against and the
    * default scroll window.
    */
  def decodeRequest(method: String, segs: List[String], b: JValue,
                    query: Map[String, String], store: CollectionStore): StoreVerb[_] = {
    def noRoute = new IllegalArgumentException(s"no route $method /${segs.mkString("/")}")
    def param(k: String) =
      query.getOrElse(k, throw new IllegalArgumentException(s"log requires $k=")).toLong
    def filter = parseFilter(b \ "filter")
    def idFilter = (b \ "filter" \ "has_id" match {
      case JArray(vs) => Some(vs.flatMap(optStr).toSet)
      case _ => None
    }, optStr(b \ "filter" \ "id_gt"))
    def wp = b \ "with_payload" == JBool(true)
    def vf = strs(b \ "with_vector")
    (method, segs) match {
      case ("GET", "collections" :: Nil) => Names()
      case ("GET", "aliases" :: Nil) => ListAliases(None)
      case ("POST", "collections" :: "aliases" :: Nil) =>
        UpdateAliases(required(b, "actions") { case JArray(as) => Some(as); case _ => None }
          .map { a =>
            (a \ "create_alias", a \ "delete_alias") match {
              case (o: JObject, _) =>
                AliasedCollectionStore.CreateAlias(reqStr(o, "alias_name"),
                  reqStr(o, "collection_name"))
              case (_, o: JObject) => AliasedCollectionStore.DeleteAlias(reqStr(o, "alias_name"))
              case _ => throw new IllegalArgumentException(s"bad alias action: $a")
            }
          })
      case ("POST", "optimize" :: Nil) => Optimize(intOr(b, "ivf_max_iter", 0))
      case (m, "collections" :: c :: rest) => (m, rest) match {
        case ("GET", Nil) => Info(c)
        case ("PUT", Nil) =>
          CreateCollection(parseDescriptor(c, JObject("config" -> JObject("params" -> b))))
        case ("DELETE", Nil) => DropCollection(c)
        case ("GET", "aliases" :: Nil) => ListAliases(Some(c))
        case ("GET", "log" :: "info" :: Nil) => LogStart(c)
        case ("GET", "log" :: Nil) => LogEntries(c, param("from"), param("until"))
        case ("POST", "log" :: "compact" :: Nil) => Compact(c, required(b, "up_to")(optLong))
        case ("POST", "snapshot" :: Nil) =>
          CreateSnapshot(c, reqStr(b, "path"), optStr(b \ "kind").contains("storage"))
        case ("POST", "snapshot" :: "recover" :: Nil) =>
          RecoverSnapshot(c, reqStr(b, "path"), reqStr(b, "dir"),
            intOr(b, "ivf_nprobe", 0), intOr(b, "ivf_candidate_k", 0),
            intOr(b, "hnsw_ef", 0), intOr(b, "hnsw_candidate_k", 0))
        case ("POST", "snapshot" :: "verify" :: Nil) => VerifySnapshot(c, reqStr(b, "path"))
        case ("PUT", "points" :: Nil) => Upsert(c, pointsOf(b, store.collectionInfo(c)))
        case ("PUT", "points" :: "vectors" :: Nil) =>
          UpdateVectors(c, pointsOf(b, store.collectionInfo(c)))
        // no filter = the metadata-hit count; with one = the backend
        // count API's exact filtered form
        case ("POST", "points" :: "count" :: Nil) =>
          val (ids, lower) = idFilter
          if (ids.isEmpty && lower.isEmpty && filter.isEmpty) Count(c)
          else CountFiltered(c, ids, lower, filter)
        case ("POST", "points" :: "scroll" :: Nil) =>
          val (ids, lower) = idFilter
          val (from, until) = b \ "range" match {
            case JArray(lo :: hi :: Nil) => (long(lo), long(hi))
            case _ => (0L, store.pointCount(c))
          }
          Scroll(c, from, until, wp, vf, optLong(b \ "limit").map(_.toInt), ids, lower, filter)
        case ("POST", "points" :: "query" :: Nil) => Search(c, parseSpec(b), wp, vf, filter)
        case ("POST", "points" :: "query" :: "batch" :: Nil) =>
          SearchBatch(c, required(b, "searches") { case JArray(ss) => Some(ss); case _ => None }
            .map(parseSpec), wp, vf)
        case ("POST", "points" :: "facet" :: Nil) =>
          Facet(c, reqStr(b, "key"), intOr(b, "limit", 10), filter)
        case ("POST", "points" :: "facet" :: "values" :: Nil) =>
          FacetFor(c, reqStr(b, "key"), reqStrs(b, "values").toSet, filter)
        case ("POST", "points" :: "textrank" :: tail) =>
          val (key, terms) = (reqStr(b, "key"), reqStrs(b, "terms"))
          def dial(k: String, d: Double) = optNum(b \ k).getOrElse(d)
          tail match {
            case Nil => TextRanked(c, key, terms, intOr(b, "k", 10), dial("k1", 1.2), dial("b", 0.75))
            case "partials" :: Nil => TextPartials(c, key, terms)
            case "stats" :: Nil => TextStats(c, key, terms)
            case "topk" :: Nil => TextTopK(c, key, terms, intOr(b, "k", 10),
              TextRankStats(optLong(b \ "n").getOrElse(0L), optLong(b \ "total").getOrElse(0L),
                longs(b \ "dfs")), dial("k1", 1.2), dial("b", 0.75))
            case _ => throw noRoute
          }
        case ("POST", "points" :: "delete" :: Nil) =>
          if (b \ "all" == JBool(true)) Truncate(c) else Delete(c, reqStrs(b, "points").toSet)
        case ("POST", "points" :: "payload" :: Nil) => SetPayload(c,
          reqStrs(b, "points").toSet, JsonMethods.compact(JsonMethods.render(b \ "payload")))
        case ("POST", "points" :: "payload" :: "delete" :: Nil) =>
          DeletePayload(c, reqStrs(b, "points").toSet, reqStrs(b, "keys").toSet)
        case ("POST", "points" :: "payload" :: "clear" :: Nil) =>
          ClearPayload(c, reqStrs(b, "points").toSet)
        case ("POST", "points" :: "vectors" :: "delete" :: Nil) =>
          DeleteVectors(c, reqStrs(b, "points").toSet, reqStrs(b, "vectors").toSet)
        case _ => throw noRoute
      }
      case _ => throw noRoute
    }
  }

  private def scoredJson(r: Seq[(Point, Double)]): JValue =
    JObject("points" -> JArray(r.toList.map { case (p, s) => pointJson(p, Some(s)) }))

  private def hitsJson[T](hs: Seq[(String, T)], k: String, n: String)(v: T => JValue): JValue =
    JObject("hits" -> JArray(hs.toList.map { case (a, x) => JObject(k -> JString(a), n -> v(x)) }))

  /** Service side: `v`'s result as its resource body. `more` runs a
    * companion count the resource also carries (collection info holds the
    * point count, log info both log bounds).
    */
  def encodeResult[R](v: StoreVerb[R], more: StoreVerb[Long] => Long): R => JValue = v match {
    case Names() => names => JObject("collections" -> JArray(names.toList.map(n =>
      JObject("name" -> JString(n)))))
    case Info(c) => descriptorJson(_, more(Count(c)))
    case _: Count => n => JObject("count" -> JLong(n))
    case _: CountFiltered => n => JObject("count" -> JLong(n))
    case LogStart(c) => n => JObject("start" -> JLong(n), "size" -> JLong(more(LogSize(c))))
    case LogSize(c) => n => JObject("start" -> JLong(more(LogStart(c))), "size" -> JLong(n))
    case _: Scroll => pts => JObject("points" -> JArray(pts.toList.map(pointJson(_))))
    case _: Search => scoredJson(_)
    case _: SearchBatch => pages => JArray(pages.toList.map(scoredJson))
    case _: Facet => hitsJson(_, "value", "count")(JLong(_))
    case _: FacetFor => counts => hitsJson(counts.toSeq.sortBy(_._1), "value", "count")(JLong(_))
    case _: TextRanked => hitsJson(_, "id", "score")(JDouble(_))
    case _: TextTopK => hitsJson(_, "id", "score")(JDouble(_))
    case _: TextPartials => p =>
      JObject("n" -> JLong(p.n), "total" -> JLong(p.totalLen), "dfs" -> jLongs(p.dfs),
        "docs" -> JArray(p.docs.toList.map { case (id, tfs, dl) =>
          JObject("id" -> JString(id), "tfs" -> jLongs(tfs), "dl" -> JLong(dl))
        }))
    case _: TextStats => st =>
      JObject("n" -> JLong(st.n), "total" -> JLong(st.totalLen), "dfs" -> jLongs(st.dfs))
    case _: VerifySnapshot => findings => JObject("findings" -> jStrs(findings))
    case _: LogEntries => es => JObject("entries" -> JArray(es.toList.map(logEntryJson)))
    case _: ListAliases => as => JObject("aliases" -> JArray(as.toList.map { case (a, c) =>
      JObject("alias_name" -> JString(a), "collection_name" -> JString(c))
    }))
    case _: RecoverSnapshot => _ => status("recovered")
    case _ => _ => status("completed")
  }

  /** Client side: `v`'s result from its resource body. */
  def decodeResult[R](v: StoreVerb[R], res: JValue,
                      desc: String => CollectionDescriptor): R = {
    def hits[T](k: String, n: String)(get: JValue => Option[T]): List[(String, T)] =
      arr(res \ "hits").map(h => (reqStr(h, k), required(h, n)(get)))
    v match {
      case Names() => arr(res \ "collections").flatMap(c => optStr(c \ "name"))
      case Info(c) => parseDescriptor(c, res)
      case _: Count => long(res \ "count")
      case _: CountFiltered => long(res \ "count")
      case _: LogStart => long(res \ "start")
      case _: LogSize => long(res \ "size")
      case Scroll(c, _, _, _, _, _, _, _, _) => arr(res \ "points").map(parsePoint(desc(c), _))
      case Search(c, _, _, _, _) => arr(res \ "points").map(parseScored(desc(c), _))
      case SearchBatch(c, _, _, _) =>
        arr(res).map(r => arr(r \ "points").map(parseScored(desc(c), _)))
      case _: Facet => hits("value", "count")(optLong)
      case _: FacetFor => hits("value", "count")(optLong).toMap
      case _: TextRanked => hits("id", "score")(optNum)
      case _: TextTopK => hits("id", "score")(optNum)
      case _: TextPartials =>
        TextRankPartials(optLong(res \ "n").getOrElse(0L), optLong(res \ "total").getOrElse(0L),
          longs(res \ "dfs"), arr(res \ "docs").map(d =>
            (reqStr(d, "id"), longs(d \ "tfs"), optLong(d \ "dl").getOrElse(0L))))
      case _: TextStats =>
        TextRankStats(optLong(res \ "n").getOrElse(0L), optLong(res \ "total").getOrElse(0L),
          longs(res \ "dfs"))
      case _: VerifySnapshot => strs(res \ "findings")
      case LogEntries(c, _, _) => arr(res \ "entries").map(parseLogEntry(desc(c), _))
      case _: ListAliases => arr(res \ "aliases").flatMap(a =>
        for (n <- optStr(a \ "alias_name"); c <- optStr(a \ "collection_name")) yield n -> c)
      case _: Mutation => ().asInstanceOf[R]
    }
  }
}

/** The THIRD [[CollectionStore]] implementation: a serializable HTTP/JSON
  * CLIENT dialing a remote collection service — the store shape a real
  * cluster deploys, exactly as the reference holds a `qdrant_client`
  * handle dialed from a URL (/root/reference/src/table.rs:48,84). The
  * instance carries only the base URL (+ page size): executors
  * deserialize it and open their own connections, nothing tunnels
  * through the driver. Every verb is one request to its Qdrant-shaped
  * resource ([[CollectionWire.request]]); the store contract above the
  * seam is [[WireCollectionClient]]'s, shared with the binary transport.
  *
  * Beyond the shared verbs this transport speaks the REST-only ones:
  * collection DDL, aliases, and vector and payload patches.
  */
final class RestCollectionStore(val baseUrl: String, pageSize: Int = 4096,
                                maxRetries: Int = 3,
                                retryBackoffMs: Long = 50L,
                                apiKey: Option[String] = None)
    extends WireCollectionClient(pageSize) {
  import StoreVerb._
  require(maxRetries >= 0, s"maxRetries must be >= 0, got $maxRetries")

  @transient private lazy val http: HttpClient = HttpClient.newHttpClient()

  /** Every request carries the shared-secret `api-key` header when the
    * client is keyed — qdrant's standard REST auth scheme, the one the
    * reference's client uses. Reads (GETs and the read-only POSTs) retry
    * transient failures; [[Mutation]]s never do.
    */
  private[sources] def call[R](verb: StoreVerb[R]): R = {
    val (method, path, body) = CollectionWire.request(verb)
    val b = HttpRequest.newBuilder(URI.create(baseUrl + path))
    apiKey.foreach(k => b.header("api-key", k))
    if (method == "GET") b.GET()
    else b.header("Content-Type", "application/json")
      .method(method, HttpRequest.BodyPublishers.ofString(JsonMethods.compact(body), UTF_8))
    val retries = verb match { case _: Mutation => 0; case _ => maxRetries }
    CollectionWire.decodeResult(verb,
      CollectionWire.result(send(b.build(), retries)), descriptor)
  }

  /** Bounded transient-failure retry: connect/transport errors and
    * gateway-style statuses (502/503/504) back off and retry up to
    * `retries` times; every other status maps immediately through
    * [[WireError]]. 500 stays fail-fast — this server uses it for
    * deterministic handler errors, where a retry can only waste time.
    */
  private def send(req: HttpRequest, retries: Int): String = {
    var attempt = 0
    var out: String = null
    while (out == null) {
      val resp =
        try Some(http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8)))
        catch {
          case e: java.io.IOException =>
            if (attempt >= retries) throw e
            None
        }
      resp match {
        case Some(r) if r.statusCode() == 200 => out = r.body()
        case Some(r) if !Set(502, 503, 504)(r.statusCode()) || attempt >= retries =>
          val msg = CollectionWire.errorOf(r.body())
          throw WireError.byHttp(r.statusCode()).map(_.raise(msg)).getOrElse(
            new RuntimeException(s"collection service ${r.statusCode()} at ${req.uri()}: $msg"))
        case _ =>
          attempt += 1
          Thread.sleep(retryBackoffMs * attempt)
      }
    }
    out
  }

  /** CREATE a collection remotely (Qdrant's `PUT /collections/{name}`),
    * in the config shape [[collectionInfo]] reads back. The SERVICE owns
    * the existence check (IllegalStateException = already exists).
    */
  def createCollection(desc: CollectionDescriptor): Unit = {
    call(CreateCollection(desc))
    forget(desc.name)
  }

  /** DROP a collection remotely: false when the name did not exist. */
  def deleteCollection(name: String): Boolean = {
    forget(name)
    try { call(DropCollection(name)); true }
    catch { case _: IllegalArgumentException => false }
  }

  /** Alias update (Qdrant's `update_aliases`): the batch lands atomically. */
  def updateAliases(actions: Seq[AliasedCollectionStore.AliasAction]): Unit =
    call(UpdateAliases(actions))

  /** The service's alias map (alias -> collection). */
  def listAliases(): Map[String, String] = call(ListAliases(None)).toMap

  /** Aliases pointing at ONE collection. */
  def listCollectionAliases(collection: String): Seq[String] =
    call(ListAliases(Some(collection))).map(_._1)

  /** The backend's set_payload: merge `patch`'s fields into the selected
    * points' payloads server-side (only the patch and the ids cross).
    */
  def setPayload(collection: String, ids: Set[String], patch: String): Unit =
    call(SetPayload(collection, ids, patch))

  /** The backend's update_vectors: each point carries only the vector
    * fields to replace; other fields and the payload survive.
    */
  def updateVectors(collection: String, updates: Seq[Point]): Unit =
    call(UpdateVectors(collection, updates))

  /** The backend's delete_vectors: drop named vector fields. */
  def deleteVectors(collection: String, ids: Set[String], fields: Set[String]): Unit =
    call(DeleteVectors(collection, ids, fields))

  /** The backend's delete_payload: drop named payload fields. */
  def deletePayload(collection: String, ids: Set[String], keys: Set[String]): Unit =
    call(DeletePayload(collection, ids, keys))

  /** The backend's clear_payload: remove the payloads entirely. */
  def clearPayload(collection: String, ids: Set[String]): Unit =
    call(ClearPayload(collection, ids))
}

/** In-process HTTP server fronting a registered [[CollectionStore]] —
  * the service side of the wire protocol (the stand-in for a live Qdrant
  * node in this offline sandbox; the CLIENT above is what a production
  * deployment keeps). It decodes each request into a [[StoreVerb]] and
  * hands it to [[StoreDispatch]], which resolves the store BY NAME on
  * every request. The narrowing contract holds server-side: un-asked-for
  * bytes never reach the wire (asserted over raw HTTP in
  * RestCollectionStoreSpec, not just narrated).
  */
final class CollectionHttpServer(storeName: String, poolSize: Int = 8,
                                 apiKey: Option[String] = None) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}

  private val server = {
    CollectionHttpServer.noDelay: Unit
    HttpServer.create(
      new InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
  }
  // DAEMON worker threads: the server is infrastructure, not work — it
  // must never keep the JVM alive once main() returns (a non-daemon pool
  // deadlocks exit: the JVM waits on the pool, and the shutdown hook that
  // would stop the pool only runs at exit)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize,
    (r: Runnable) => { val t = new Thread(r, "collection-http"); t.setDaemon(true); t })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): this.type = {
    // the JDK HttpServer dispatcher thread inherits daemon status from the
    // CREATING thread — start from a short-lived daemon thread so the
    // dispatcher can't pin the JVM either
    val starter = new Thread(() => server.start(), "collection-http-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    this
  }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def port: Int = server.getAddress.getPort
  def baseUrl: String = s"http://127.0.0.1:$port"

  /** Shared-secret check on EVERY request when the server is keyed —
    * qdrant's `api-key` header scheme. Constant-time compare
    * (MessageDigest.isEqual), so the key is not timing-probeable.
    */
  private def authorized(ex: HttpExchange): Boolean = apiKey.forall { k =>
    Option(ex.getRequestHeaders.getFirst("api-key")).exists(sent =>
      java.security.MessageDigest.isEqual(sent.getBytes(UTF_8), k.getBytes(UTF_8)))
  }

  /** Wire-volume observability (ScaleProbe reads these): requests
    * served and response bytes out. Counting only — no behavior rides
    * on them.
    */
  val requestsServed = new java.util.concurrent.atomic.AtomicLong(0L)
  val bytesOut = new java.util.concurrent.atomic.AtomicLong(0L)

  private def serve[R](v: StoreVerb[R]): JValue =
    CollectionWire.encodeResult(v, StoreDispatch(storeName, _: StoreVerb[Long]))(
      StoreDispatch(storeName, v))

  private def handle(ex: HttpExchange): Unit = {
    requestsServed.incrementAndGet(): Unit
    val (code, body) =
      try {
        if (!authorized(ex))
          throw new SecurityException("unauthorized: missing or invalid api-key header")
        val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
        val raw = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val query = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
          .filter(_.contains("=")).map { kv =>
            val i = kv.indexOf('=')
            kv.substring(0, i) -> java.net.URLDecoder.decode(kv.substring(i + 1), UTF_8)
          }.toMap
        (200, CollectionWire.okEnvelope(serve(CollectionWire.decodeRequest(
          ex.getRequestMethod, segs, if (raw.isEmpty) JObject() else JsonMethods.parse(raw),
          query, CollectionStores.get(storeName)))))
      } catch {
        case e: Throwable =>
          val (status, _, msg) = WireError.of(e)
          (status, CollectionWire.errEnvelope(msg))
      }
    val bytes = body.getBytes(UTF_8)
    bytesOut.addAndGet(bytes.length.toLong): Unit
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object CollectionHttpServer {
  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** TCP_NODELAY on the JDK server's sockets. Left off, Nagle's
    * algorithm holds part of each reply until the client's delayed ACK
    * (~40 ms per request, measured on loopback). The
    * property is the server's only switch and is read once per JVM, so
    * it is set before the first server is created — unless it is
    * already set, in which case the caller's value stands.
    */
  lazy val noDelay: Boolean = {
    if (System.getProperty(NoDelayProperty) == null)
      System.setProperty(NoDelayProperty, "true")
    java.lang.Boolean.getBoolean(NoDelayProperty)
  }
}
