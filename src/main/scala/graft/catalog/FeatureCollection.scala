package graft.catalog

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** STAC FeatureCollection response assembly (SURVEY §3.3) — the JSON
  * page the reference serves through stac-fastapi + pgstac
  * (docker-compose.yml:1-28): `{"type":"FeatureCollection",
  * "features":[...], "links":[self, next-token]}`.
  *
  * Feature serialization is DISTRIBUTED — one to_json per item row
  * (whole-stage codegen) with the stored GeoJSON geometry string
  * spliced in as a raw object. Only the ≤ limit page rows reach the
  * driver; the envelope and paging links are driver-side string
  * assembly over that bounded page, so response building never holds
  * more than one page regardless of catalog size. Each page runs its
  * own plan, but pages of one search shape (any bbox, datetime, cql2
  * numbers or token) share one generated class: see
  * graft.plans.BindFilterConstants.
  */
object FeatureCollection {

  /** One GeoJSON Feature per item as a JSON string column. The
    * geometry column already holds GeoJSON text, so it is spliced
    * into the to_json output as a raw object — to_json itself would
    * double-encode it as an escaped string. */
  def featureColumn: Column = featureColumn(CatalogQuery.FieldsSpec())

  /** Fields-extension variant: the projection happens INSIDE the
    * distributed to_json (and a map_filter for properties.<name>
    * paths), so excluded members never travel to the driver — a
    * fields-narrowed page of wide items costs the narrow bytes. */
  def featureColumn(f: CatalogQuery.FieldsSpec): Column = {
    // properties.<name> sub-selection inside the map
    val subInc = f.include.filter(_.startsWith("properties."))
      .map(_.stripPrefix("properties."))
    val subExc = f.exclude.filter(_.startsWith("properties."))
      .map(_.stripPrefix("properties."))
    var props = col("properties")
    if (subInc.nonEmpty)
      props = map_filter(props, (k, _) => k.isin(subInc: _*))
    if (subExc.nonEmpty)
      props = map_filter(props, (k, _) => !k.isin(subExc: _*))
    val parts = Seq(
      Some(lit("Feature").as("type")),
      Some(lit("1.0.0").as("stac_version")),
      Some(col("item_id").as("id")),
      Some(col("collection_id").as("collection")),
      if (f.topIncluded("bbox")) Some(col("bbox")) else None,
      if (f.topIncluded("properties")) Some(props.as("properties")) else None,
      if (f.topIncluded("assets")) Some(col("assets")) else None,
      if (f.topIncluded("links")) Some(col("links")) else None).flatten
    val base = to_json(struct(parts: _*))
    if (!f.topIncluded("geometry")) base
    else
      // a null geometry column must splice as the JSON literal `null`
      // ("geometry": null is a valid GeoJSON Feature) — without the
      // coalesce, concat nulls the WHOLE feature string and the
      // features array would gain a bare `null` entry
      concat(base.substr(lit(1), length(base) - 1),
        lit(",\"geometry\":"), coalesce(col("geometry"), lit("null")),
        lit("}"))
  }

  /** Minimal JSON string escaping for driver-side splices (hrefs,
    * tokens): backslash, quote, and control characters. */
  private[catalog] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Opaque next-page token: the sort-key values of the page's last
    * row, type-tagged and base64-armored so any string content is
    * JSON- and URL-safe. Round-trips String/Long/Int/Double/Boolean/
    * Timestamp/null exactly (keyset predicates need the exact
    * values). */
  def encodeToken(values: Seq[Any]): String = values.map {
    case null => "n:"
    case s: String => "s:" + Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))
    case i: Int => "i:" + i
    case l: Long => "l:" + l
    case d: Double => "d:" + d
    case b: Boolean => "b:" + b
    case t: Timestamp => "t:" + t.getTime + ";" + t.getNanos
    case other => throw new IllegalArgumentException(
      s"untokenizable sort value: ${other.getClass}")
  }.mkString(",")

  def decodeToken(token: String): Seq[Any] =
    token.split(",", -1).toSeq.map { part =>
      // a malformed segment (empty, or missing the ':' separator) is
      // an invalid client token — fail with a clean invalid-token
      // error, not a StringIndexOutOfBoundsException
      if (part.length < 2 || part.charAt(1) != ':')
        throw new IllegalArgumentException(
          s"invalid page token segment: '$part'")
      val (tag, v) = (part.substring(0, 1), part.substring(2))
      tag match {
        case "n" => null
        case "s" => new String(Base64.getUrlDecoder.decode(v),
          StandardCharsets.UTF_8)
        case "i" => v.toInt
        case "l" => v.toLong
        case "d" => v.toDouble
        case "b" => v.toBoolean
        case "t" => v.split(";") match {
          case Array(millis, nanos) =>
            val ts = new Timestamp(millis.toLong)
            ts.setNanos(nanos.toInt)
            ts
          case _ => throw new IllegalArgumentException(
            s"invalid timestamp token segment: '$part'")
        }
        case other =>
          throw new IllegalArgumentException(s"bad token tag '$other'")
      }
    }

  /** One serialized response page. */
  case class Page(body: String, nextToken: Option[String],
      numberReturned: Int)

  /** Run the search and serialize the page. `token` is the nextToken
    * of the previous page (overrides q.afterToken when present).
    * `nextHref` switches the next link from the POST convention (self
    * href + token in a body merge patch) to a caller-built GET href
    * embedding the token — the two shapes stac-fastapi serves. */
  def page(items: DataFrame, q: CatalogQuery.Search,
      token: Option[String] = None, selfHref: String = "/search",
      nextHref: Option[String => String] = None): Page = {
    val search = token match {
      case Some(t) => q.copy(afterToken = Some(decodeToken(t)))
      case None => q
    }
    val keyCols = (search.sortBy ++ Seq(("item_id", true))).map(_._1)
    val rows = CatalogQuery.compile(items, search)
      .select(featureColumn(search.fields).as("_feature") +:
        keyCols.map(col): _*)
      .collect()
    val features = rows.map(_.getString(0))
    // one paging policy: CatalogQuery.nextToken owns the short-page /
    // last-row-keys rule; this only encodes it
    val next = CatalogQuery.nextToken(rows, search).map(encodeToken)
    // selfHref is caller-supplied: escape it so a quote/backslash in
    // the href can't break the envelope JSON (tokens are base64/
    // numeric-armored but escape them too — defense in depth)
    val href = jsonEscape(selfHref)
    val links = Seq(s"""{"rel":"self","href":"$href"}""") ++
      next.map { t =>
        nextHref match {
          case Some(build) =>
            s"""{"rel":"next","href":"${jsonEscape(build(t))}"}"""
          case None =>
            s"""{"rel":"next","href":"$href","body":{"token":"${jsonEscape(t)}"}}"""
        }
      }
    val body = s"""{"type":"FeatureCollection"""" +
      s""","numberReturned":${features.length}""" +
      s""","features":[${features.mkString(",")}]""" +
      s""","links":[${links.mkString(",")}]}"""
    Page(body, next, features.length)
  }
}
