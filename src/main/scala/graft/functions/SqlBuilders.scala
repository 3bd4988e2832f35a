package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.{
  Abs, Add, ArrayContains, ArrayDistinct, ArrayIntersect, Asin, Cast,
  Coalesce, Cos, CreateArray, CreateNamedStruct, Divide, Exp, Expression,
  GetJsonObject, GetStructField, Greatest, IsNotNull, JsonObjectKeys,
  LengthOfJsonArray, LessThan, Literal, Lower, Multiply, Pow, Sin, Size,
  Sqrt, StringSplit, Subtract, UnaryMinus}
import org.apache.spark.sql.catalyst.expressions.variant.{ParseJson, VariantGet}
import org.apache.spark.sql.types.{
  BooleanType, DataType, DoubleType, LongType, StringType, StructType, VariantType}
import org.apache.spark.unsafe.types.UTF8String

/** The SQL function surface as (name -> Catalyst builder) pairs — one
  * table consumed by BOTH registration paths: runtime
  * `functions.registerAll(spark)` (temp functions) and the
  * [[graft.GraftExtensions]] `SparkSessionExtensions` injection
  * (`spark.sql.extensions=graft.GraftExtensions`, the canonical library
  * deployment). Builders produce raw Catalyst nodes: a Column expression
  * tree cannot be re-embedded unresolved into a SQL plan.
  *
  * Every composed function is built HERE, once: its Column form in the
  * `functions` package passes `Bridge.expression` of its arguments (Scala
  * scalars as `Literal`s) to the same `private[graft]` builder, so both
  * surfaces compute identical bits and raise the same AnalysisException.
  *
  * Mirrors the reference surface: the V_* corpus functions
  * (/root/reference/tests/bin/tests.sql) and the JSON scalar pack it
  * registers wholesale (/root/reference/src/udfs.rs:13-16).
  */
private[graft] object SqlBuilders {

  /** Arguments like the metric name or a MATCH_TEXT query must be string
    * literals. These builders run inside Catalyst resolution (for every
    * session when injected via extensions), so a non-literal argument has
    * to surface as a clean AnalysisException, not an eval-time NPE.
    */
  private def litOf(e: Expression, fn: String, what: String): Any = {
    if (!e.resolved || !e.foldable)
      throw new AnalysisException("USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          s"$fn expects a literal $what argument, got non-literal: ${e.sql}"))
    val v = e.eval(null)
    if (v == null)
      throw new AnalysisException("USER_RAISED_EXCEPTION",
        Map("errorMessage" -> s"$fn expects a non-NULL literal $what argument"))
    v
  }

  private def litString(e: Expression, fn: String, what: String): String =
    litOf(e, fn, what) match {
      case s: UTF8String => s.toString
      case other => other.toString
    }

  /** V_DISTANCE(a, b, 'metric') — 'cosine' is the cosine DISTANCE
    * (1 - similarity), 'dot' the negated dot product. The metric must be a
    * foldable string literal, as in the reference corpus.
    */
  private[graft] def distance(a: Expression, b: Expression, metric: Expression,
                              fn: String = "v_distance"): Expression =
    litString(metric, fn, "metric").toLowerCase match {
      case "cosine" => Subtract(Literal(1.0), CosineSimilarity(a, b))
      case "dot"    => UnaryMinus(DotProduct(a, b))
      case "euclid" | "euclidean" | "l2" => EuclideanDistance(a, b)
      case "manhattan" | "l1" => ManhattanDistance(a, b)
      case m => throw new AnalysisException("USER_RAISED_EXCEPTION",
        Map("errorMessage" -> s"$fn: unknown metric '$m' (cosine|dot|euclid|manhattan)"))
    }

  /** V_WITHIN(a, b, r[, 'metric']): distance < r, euclid by default. */
  private[graft] def within(a: Expression, b: Expression, r: Expression,
                            metric: Option[Expression]): Expression =
    LessThan(
      metric.fold[Expression](EuclideanDistance(a, b))(distance(a, b, _, "v_within")),
      Literal(litString(r, "v_within", "radius").toDouble))

  /** Gaussian decay exp(-ln2 * (dist/scale)^2), = 0.5 at dist = scale
    * (V_GAUSS_DECAY, tests.sql:294-300). The decay family shares the
    * midpoint-0.5 convention: decay(scale) = 0.5, decay(0) = 1.
    */
  private[graft] def gaussDecay(dist: Expression, scale: Expression): Expression =
    Exp(Multiply(Literal(-math.log(2.0)), Pow(Divide(dist, scale), Two)))

  /** Exponential decay exp(-ln2 * |x| / scale), the product first — the
    * same left-to-right order as the DuckDB oracle's formula.
    */
  private[graft] def expDecay(dist: Expression, scale: Expression): Expression =
    Exp(Divide(Multiply(Literal(-math.log(2.0)), Abs(dist)), scale))

  /** Linear decay max(0, 1 - |x| / (2*scale)), exactly 0 from 2*scale on. */
  private[graft] def linDecay(dist: Expression, scale: Expression): Expression =
    Greatest(Seq(Literal(0.0), Subtract(Literal(1.0), Divide(Abs(dist), Multiply(Two, scale)))))

  private def pathOf(keys: Seq[Expression], fn: String): Expression =
    Literal("$." + keys.map(k => litString(k, fn, "JSON key")).mkString("."))

  private val Deg2Rad = Literal(math.Pi / 180.0)
  private val Two = Literal(2.0)

  /** Haversine meters between (lat1, lon1) and (lat2, lon2) in degrees. */
  private[graft] def geoDistance(es: Seq[Expression]): Expression = {
    val (lat1, lon1, lat2, lon2) = (es(0), es(1), es(2), es(3))
    val dLat = Multiply(Subtract(lat2, lat1), Deg2Rad)
    val dLon = Multiply(Subtract(lon2, lon1), Deg2Rad)
    val h = Add(
      Pow(Sin(Divide(dLat, Two)), Two),
      Multiply(
        Multiply(Cos(Multiply(lat1, Deg2Rad)), Cos(Multiply(lat2, Deg2Rad))),
        Pow(Sin(Divide(dLon, Two)), Two)))
    Multiply(Literal(2 * 6371000.0), Asin(Sqrt(h)))
  }

  /** A geo point argument -> (lat, lon) expressions: a POINT(...) struct,
    * or a JSON object string `{"lat":..,"lon":..}` (the corpus's
    * `payload->'geo'->'location'` shape). Anything else is a clean
    * analysis error, not a ClassCastException.
    */
  private def latLonOf(e: Expression): Seq[Expression] = {
    if (!e.resolved)
      throw new AnalysisException("USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          "v_geo_distance: cannot type its point argument; use the 4-scalar form"))
    e.dataType match {
      case _: StructType => Seq(
        GetStructField(e, 0, Some("lat")), GetStructField(e, 1, Some("lon")))
      case StringType => Seq(
        Cast(GetJsonObject(e, Literal("$.lat")), DoubleType),
        Cast(GetJsonObject(e, Literal("$.lon")), DoubleType))
      case other => throw new AnalysisException("USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          ("v_geo_distance expects POINT structs, JSON location objects, or " +
            s"4 lat/lon scalars; got ${other.catalogString}")))
    }
  }

  /** MATCH_TEXT(text, 'query'): fraction of distinct query terms present
    * in the text (lowercase whitespace tokens; tests.sql:210-214).
    */
  private[graft] def matchText(text: Expression, query: Expression): Expression = {
    val terms = litString(query, "match_text", "query")
      .toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toIndexedSeq
    if (terms.isEmpty)
      throw new AnalysisException("USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          "match_text expects a query with at least one term, got an empty/whitespace-only literal"))
    val toks = ArrayDistinct(StringSplit(Lower(text), Literal("\\s+"), Literal(-1)))
    val hits = Size(ArrayIntersect(toks, CreateArray(terms.map(t => Literal(t)))))
    Divide(Cast(hits, DoubleType), Literal(terms.length.toDouble))
  }

  /** json_get and its typed aliases: the value at the key path as text. */
  private[graft] def jsonGet(json: Expression, keys: Seq[Expression], fn: String): Expression =
    GetJsonObject(json, pathOf(keys, fn))

  /** The typed json_get aliases: the text cast to `dt`. */
  private[graft] def jsonGetAs(json: Expression, keys: Seq[Expression], dt: DataType,
                               fn: String): Expression =
    Cast(jsonGet(json, keys, fn), dt)

  /** Array element count OR object key count at the key path (the
    * reference json pack's dual semantics, registered in its src/udfs.rs:13-16:
    * LengthOfJsonArray is NULL on an object, Size(JsonObjectKeys) is NULL
    * on an array); scalars stay NULL under each. No keys = whole document.
    */
  private[graft] def jsonLength(json: Expression, keys: Seq[Expression]): Expression = {
    val j = if (keys.nonEmpty) jsonGet(json, keys, "json_length") else json
    Coalesce(Seq(LengthOfJsonArray(j), new Size(JsonObjectKeys(j))))
  }

  /** HAS_FIELD(payload, 'key'): key existence (tests.sql:203-207). */
  private[graft] def hasField(json: Expression, keys: Seq[Expression]): Expression =
    IsNotNull(jsonGet(json, keys, "has_field"))

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "v_dot" -> (es => DotProduct(es(0), es(1))),
    "v_cosine" -> (es => CosineSimilarity(es(0), es(1))),
    "v_euclid" -> (es => EuclideanDistance(es(0), es(1))),
    "v_manhattan" -> (es => ManhattanDistance(es(0), es(1))),
    "v_sparse_dot" -> (es => SparseDotProduct(es(0), es(1), es(2), es(3))),
    "v_maxsim" -> (es => MaxSim(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es(0))),
    "fingerprint64" -> (es => RollingHash64(es(0))),
    "char_entropy" -> (es => CharEntropy(es(0))),
    "nfc_normalize" -> (es => NfcNormalize(es(0))),
    "strip_accents" -> (es => StripAccents(es(0))),
    "v_distance" -> (es => distance(es(0), es(1), es(2))),
    "v_within" -> (es => within(es(0), es(1), es(2), es.lift(3))),
    "v_gauss_decay" -> (es => gaussDecay(es(0), es(1))),
    "v_exp_decay" -> (es => expDecay(es(0), es(1))),
    "v_lin_decay" -> (es => linDecay(es(0), es(1))),
    // 4-scalar form, or the corpus's two-point form (tests.sql:295-299)
    // where each point is a POINT(...) struct OR a JSON location object
    // (payload->'geo'->'location' = {"lat":..,"lon":..})
    "v_geo_distance" -> (es =>
      if (es.length >= 4) geoDistance(es)
      else geoDistance(latLonOf(es(0)) ++ latLonOf(es(1)))),
    // POINT(lat, lon) constructor literal (tests.sql:298)
    "point" -> (es => CreateNamedStruct(Seq(Literal("lat"), es(0), Literal("lon"), es(1)))),
    "match_text" -> (es => matchText(es(0), es(1))),
    // JSON pack aliases (SURVEY §2.D): json_get(j,'k'), typed gets, has_field
    "json_get" -> (es => jsonGet(es.head, es.tail, "json_get")),
    "json_get_str" -> (es => jsonGet(es.head, es.tail, "json_get_str")),
    "json_get_int" -> (es => jsonGetAs(es.head, es.tail, LongType, "json_get_int")),
    "json_get_float" -> (es => jsonGetAs(es.head, es.tail, DoubleType, "json_get_float")),
    "json_get_bool" -> (es => jsonGetAs(es.head, es.tail, BooleanType, "json_get_bool")),
    "json_length" -> (es => jsonLength(es.head, es.tail)),
    "json_object_keys" -> (es => JsonObjectKeys(es.head)),
    // remaining json-pack aliases (udfs.rs:13-16 registers them wholesale):
    // json_get_json keeps JSON quoting/typing (variant round-trip — a
    // string scalar comes back QUOTED, distinguishing it from
    // json_as_text's ->> raw-text semantics), and json_contains is true
    // key EXISTENCE (a key holding JSON null still reports true)
    "json_get_json" -> (es =>
      org.apache.spark.sql.catalyst.expressions.StructsToJson(Map.empty,
        VariantGet(ParseJson(es.head, failOnError = false),
          pathOf(es.tail, "json_get_json"), VariantType, failOnError = false, None))),
    "json_as_text" -> (es => jsonGet(es.head, es.tail, "json_as_text")),
    "json_contains" -> (es => {
      val keys = es.tail
      val parent =
        if (keys.length <= 1) es.head
        else GetJsonObject(es.head, pathOf(keys.init, "json_contains"))
      val last = Literal(litString(keys.last, "json_contains", "JSON key"))
      Coalesce(Seq(ArrayContains(JsonObjectKeys(parent), last), Literal(false)))
    }),
    "has_field" -> (es => hasField(es.head, es.tail)))
}
