package graft.catalog

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** STAC-search compiler (SURVEY.md §3.3) — the engine twin of the
  * stac-fastapi → pgstac search path (docker-compose.yml:1-44):
  * bbox / datetime-interval / collection / property predicates +
  * sortby + limit + keyset paging, compiled to one DataFrame plan
  * over the partitioned items table.
  *
  * Scale behavior for free from Catalyst: collection predicate →
  * partition pruning (collection_id is the partition column); bbox
  * scalars and datetimes → parquet row-group pushdown; sort+limit →
  * TakeOrderedAndProject. The GiST-index role is played by partition
  * + row-group pruning, which is what a 100 TB parquet catalog wants.
  *
  * Each search gets its own plan, but each search shape compiles once:
  * the bbox edges, datetime bounds, cql2 numbers and keyset token
  * values below are plain literals here, and the BindFilterConstants
  * physical rule turns them into codegen parameters of the post-scan
  * filter (the scan's pruning and pushdown keep the literals).
  */
object CatalogQuery {

  /** STAC fields-extension projection: `include` non-empty keeps only
    * the listed keys (plus the always-rendered type/stac_version/id/
    * collection); `exclude` drops listed keys. Keys are the optional
    * Feature members (bbox, geometry, properties, assets, links) or
    * `properties.<name>` paths selecting inside the properties map. */
  case class FieldsSpec(
      include: Seq[String] = Seq.empty,
      exclude: Seq[String] = Seq.empty) {
    def isDefault: Boolean = include.isEmpty && exclude.isEmpty
    private val legal = Set("bbox", "geometry", "properties", "assets", "links")
    (include ++ exclude).foreach { f =>
      require(legal.contains(f) || f.startsWith("properties."),
        s"unknown field '$f' — fields selects bbox/geometry/properties/" +
          "assets/links or properties.<name> paths")
    }
    /** Is the top-level member rendered at all? */
    def topIncluded(key: String): Boolean =
      (include.isEmpty ||
        include.exists(i => i == key || i.startsWith(key + "."))) &&
        !exclude.contains(key)
  }

  /** STAC /search parameters (subset the reference serves). */
  case class Search(
      collections: Seq[String] = Seq.empty,
      ids: Seq[String] = Seq.empty,
      bbox: Option[(Double, Double, Double, Double)] = None, // w,s,e,n
      /** STAC `intersects` search: a GeoJSON geometry the item's
        * geometry must EXACTLY intersect (pgstac's ST_Intersects, not
        * bbox overlap — a LineString crossing only the corner region
        * of a query box must NOT match). Compiled as a pushdown-able
        * bbox prefilter on the envelope plus the exact predicate on
        * the candidates — the PostGIS index-then-recheck shape. */
      intersects: Option[String] = None,
      interval: Option[(Timestamp, Timestamp)] = None,
      propEquals: Map[String, String] = Map.empty,
      /** Month-partition pruning slack: items may span at most this
        * many months (granules: minutes; in-situ files: ≤ 1 month —
        * the reference's monthly layout). Raise for catalogs holding
        * longer-lived items or pruning silently drops them. */
      maxItemSpanMonths: Int = 1,
      /** CQL2-text filter (STAC filter extension), e.g.
        * "bbox_n >= 20 AND collection_id LIKE 'AVHRR%'". */
      cql2: Option[String] = None,
      /** Same filter in its JSON encoding (`filter-lang: cql2-json`) —
        * the form a STAC client POSTs; compiles through the same AST
        * as the text form. */
      cql2Json: Option[String] = None,
      sortBy: Seq[(String, Boolean)] = Seq(("item_id", true)), // asc?
      limit: Int = 100,
      /** STAC `fields` extension: response projection. Filtering is
        * untouched — compile() ignores this; FeatureCollection applies
        * it at serialization. */
      fields: FieldsSpec = FieldsSpec(),
      /** keyset token: sort-key values of the last row of the prior
        * page (STAC `token` paging). */
      afterToken: Option[Seq[Any]] = None)

  def compile(items: DataFrame, q: Search): DataFrame =
    compileSorted(items, compileFilter(items, q), q)

  /** The predicate half of compile — everything BEFORE sort/limit/
    * keyset. The aggregations endpoint aggregates over this frame
    * (counting a page would be wrong), search adds the order. */
  private[graft] def compileFilter(items: DataFrame, q: Search): DataFrame = {
    var df = items
    if (q.collections.nonEmpty)
      df = df.filter(col("collection_id").isin(q.collections: _*))
    if (q.ids.nonEmpty)
      df = df.filter(col("item_id").isin(q.ids: _*))
    q.bbox.foreach { case (w, s, e, n) =>
      // overlap test on the pushdown-able scalar columns; a query box
      // with w > e crosses the antimeridian (STAC spec) and splits
      // into [w,180] ∪ [-180,e]
      // ITEM boxes can cross too (a dateline swath stores w > e per
      // STAC): a crossing item's lon interval is [w,180] ∪ [-180,e],
      // which overlaps a normal query segment iff either half does
      def lonOverlap(qw: Double, qe: Double) = {
        val crosses = col("bbox_w") > col("bbox_e")
        when(crosses, col("bbox_w") <= qe || lit(qw) <= col("bbox_e"))
          .otherwise(col("bbox_w") <= qe && lit(qw) <= col("bbox_e"))
      }
      val lon =
        if (w <= e) lonOverlap(w, e)
        else lonOverlap(w, 180.0) || lonOverlap(-180.0, e)
      df = df.filter(lon &&
        col("bbox_s") <= n && lit(s) <= col("bbox_n"))
    }
    q.interval.foreach { case (t0, t1) =>
      df = df.filter(col("start_datetime") <= lit(t1) &&
        lit(t0) <= col("end_datetime"))
      // month-partitioned catalogs (CatalogStore.writeMonthly): derive
      // the partition predicate so whole month directories prune
      // before any file is touched. month = month(start_datetime), so
      // the upper bound is exact; the lower bound is relaxed by
      // maxItemSpanMonths to keep items that START earlier but span
      // into the interval. Boundaries use the SESSION timezone — the
      // same zone date_format used when the month column was written.
      if (items.columns.contains("month")) {
        val zone = java.time.ZoneId.of(
          items.sparkSession.conf.get("spark.sql.session.timeZone"))
        val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM")
        val lo = t0.toInstant.atZone(zone).toLocalDate
          .minusMonths(q.maxItemSpanMonths.toLong)
        val hi = t1.toInstant.atZone(zone).toLocalDate
        df = df.filter(col("month") >= fmt.format(lo) &&
          col("month") <= fmt.format(hi))
      }
    }
    q.intersects.foreach { g =>
      val geom = graft.geometry.Geometry.parseGeoJson(g).getOrElse(
        throw new IllegalArgumentException(
          s"intersects: unsupported or malformed GeoJSON: $g"))
      val (w, s, e, n) = graft.geometry.Geometry.envelope(geom)
      // envelope prefilter on the scalar bbox columns (pushdown-able;
      // prunes the scan) THEN the exact test on candidates only — the
      // query geometry parsed ONCE here, not per row
      df = df.filter(col("bbox_w") <= e && lit(w) <= col("bbox_e") &&
          col("bbox_s") <= n && lit(s) <= col("bbox_n"))
        .filter(graft.geometry.Geometry.intersectsWith(geom)(col("geometry")))
    }
    q.propEquals.foreach { case (k, v) =>
      // try_element_at: missing key ⇒ null ⇒ row filtered, instead of
      // an ANSI MAP_KEY_DOES_NOT_EXIST crash on heterogeneous items
      df = df.filter(try_element_at(col("properties"), lit(k)) === v)
    }
    q.cql2.foreach { f =>
      df = df.filter(Cql2Filter.compile(f, items.columns.toSet))
    }
    q.cql2Json.foreach { f =>
      df = df.filter(Cql2Filter.compileJson(f, items.columns.toSet))
    }
    df
  }

  /** The ordering half of compile: sort validation, keyset token,
    * orderBy + limit over an already-filtered frame. */
  private def compileSorted(
      items: DataFrame, filtered: DataFrame, q: Search): DataFrame = {
    var df = filtered
    // total order: user sort keys + item_id tiebreak. Validate names
    // AND types here: an unknown sort column would otherwise surface
    // as an AnalysisException mid-plan, and a container-typed one
    // (properties map, assets array) passes orderBy-name checks but
    // dies in orderBy or token encoding — both 500s where 400 belongs
    q.sortBy.foreach { case (name, _) =>
      require(items.columns.contains(name),
        s"unknown sort field: '$name'")
      val dt = items.schema(name).dataType
      require(sortableType(dt),
        s"unsortable sort field: '$name' (${dt.simpleString}) — sortby " +
          "supports string/int/bigint/double/boolean/timestamp columns")
    }
    val sortKeys = q.sortBy ++ Seq(("item_id", true))
    val sortCols = sortKeys.map { case (name, asc) =>
      if (asc) col(name).asc else col(name).desc
    }
    q.afterToken.foreach { token =>
      validateToken(items, sortKeys, token)
      df = df.filter(keysetPredicate(sortKeys, token))
    }
    df.orderBy(sortCols: _*).limit(q.limit)
  }

  /** The atomic orderable types the keyset token machinery
    * (validateToken here; the HTTP layer's token codec) round-trips —
    * sortby is restricted to these so every accepted sort is also
    * pageable. */
  private def sortableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | LongType | IntegerType | DoubleType |
           BooleanType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** A page token must carry values of the sort columns' own types —
    * a client replaying a token against a DIFFERENT sortby would
    * otherwise push a mistyped literal into the keyset predicate and
    * die mid-scan as an opaque cast error. Fail fast and clean (the
    * HTTP layer maps IllegalArgumentException to 400). */
  private def validateToken(items: DataFrame,
      keys: Seq[(String, Boolean)], token: Seq[Any]): Unit = {
    import org.apache.spark.sql.types._
    val types = items.schema.fields.map(f => f.name -> f.dataType).toMap
    keys.zip(token).foreach { case ((name, _), v) =>
      val ok = (types.get(name), v) match {
        case (None, _) => false // unsortable column caught below anyway
        case (_, null) => true
        case (Some(StringType), _: String) => true
        case (Some(LongType), _: Long) => true
        case (Some(IntegerType), _: Int) => true
        case (Some(DoubleType), _: Double) => true
        case (Some(BooleanType), _: Boolean) => true
        case (Some(TimestampType), _: Timestamp) => true
        case (Some(TimestampNTZType), _: java.time.LocalDateTime) => true
        case _ => false
      }
      require(ok, s"page token does not match sort key '$name' — " +
        "tokens are only valid for the sortby they were issued under")
    }
  }

  /** Lexicographic keyset predicate: row > token under the sort order
    * (stable O(1)-per-page paging — no OFFSET scans). */
  private def keysetPredicate(
      keys: Seq[(String, Boolean)], token: Seq[Any]): Column = {
    require(keys.length == token.length,
      s"token arity ${token.length} != sort arity ${keys.length}")
    // (k1 > t1) or (k1 = t1 and (k2 > t2)) or ... — NULL-AWARE:
    // a boundary value of null would otherwise make the whole
    // predicate NULL (c > lit(null) is never true) and silently drop
    // every row after the boundary. Spark orders nulls FIRST for asc
    // and LAST for desc; "greater/equal than a null boundary" is
    // spelled out against that order.
    keys.zip(token).foldRight(lit(false)) {
      case (((name, asc), tv), rest) =>
        val c = col(name)
        val (gt, eq) =
          if (tv == null) {
            if (asc) (c.isNotNull, c.isNull) // nulls first: any value is past it
            else (lit(false), c.isNull) // nulls last: nothing is past it
          } else if (asc) (c > lit(tv), c === lit(tv))
          else (c < lit(tv) || c.isNull, c === lit(tv))
        gt || (eq && rest)
    }
  }

  /** Token for the next page: sort-key values of the page's last row. */
  def nextToken(page: Array[org.apache.spark.sql.Row],
      q: Search): Option[Seq[Any]] =
    if (page.length < q.limit) None
    else {
      val last = page.last
      val keys = q.sortBy ++ Seq(("item_id", true))
      Some(keys.map { case (name, _) => last.getAs[Any](name) })
    }
}
