package graft.catalog

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.concurrent.Executors

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame

/** The STAC API HTTP surface (SURVEY §3.3) — the role stac-fastapi
  * plays in the reference stack (docker-compose.yml:1-28), served
  * straight off the engine's Spark catalog instead of pgstac:
  *
  *   GET  /                      landing page (links + conformance)
  *   GET  /conformance
  *   GET  /collections           collection documents (collections.yaml)
  *   GET  /collections/{id}
  *   GET  /collections/{id}/items   limit/token/bbox/datetime params
  *   GET  /search                bbox, datetime, collections, ids,
  *                               filter (cql2-text), sortby, limit, token
  *   POST /search                JSON body; adds `intersects` (GeoJSON)
  *                               and `filter-lang: cql2-json`
  *
  * Built on the JDK's HttpServer — zero new dependencies. Every search
  * compiles through CatalogQuery (one Catalyst plan per request:
  * partition pruning + parquet pushdown stand in for pgstac's GiST
  * index) and serializes through FeatureCollection (only one ≤ limit
  * page is ever held on the driver). Each request gets its own plan,
  * but each search shape is compiled to Java once: BindFilterConstants
  * (installed by GraftExtensions) makes the filter constants codegen
  * parameters, so the generated class is shared the way a prepared
  * statement is. The server turns on TCP_NODELAY for its connections
  * (see [[StacApiServer.preferNoDelay]]). It is a thin protocol
  * adapter: parameter parsing in, Search out, Page back — so anything
  * the engine can answer, a real STAC client can now ask for over HTTP.
  */
class StacApiServer private (
    itemsSource: () => DataFrame,
    collections: Seq[StacModel.StacCollection],
    catalogId: String,
    /** (spark, catalogPath) when the server is backed by a writable
      * catalog path — enables the Transaction extension (POST/PUT/
      * DELETE items). Fixed-frame servers are read-only: 405. */
    store: Option[(org.apache.spark.sql.SparkSession, String)]) {

  /** Serve a fixed items frame (the common case: one catalog read
    * shared by every request). */
  def this(items: DataFrame,
      collections: Seq[StacModel.StacCollection] = Seq.empty,
      catalogId: String = "graft") =
    this(() => items, collections, catalogId, None)

  /** Resolved per request — a live server (StacApiServer.live) re-reads
    * the catalog path so items upserted by a running stream become
    * searchable as soon as their micro-batch commits. */
  private def items: DataFrame = itemsSource()

  import StacApiServer._

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Bind and serve; port 0 picks an ephemeral port. Returns the base
    * URI, e.g. `http://127.0.0.1:49213`. */
  def start(port: Int = 0): String = {
    require(server == null, "already started")
    preferNoDelay()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => route(ex))
    // small fixed pool: each request runs a Spark action on the driver;
    // the cluster, not the HTTP pool, provides the parallelism. Daemon
    // threads: HttpServer.stop does NOT shut down a user-supplied
    // executor, and 4 live non-daemon threads would pin the whole
    // driver JVM open at exit
    pool = Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "stac-api")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  def stop(): Unit = if (server != null) {
    server.stop(0)
    pool.shutdown()
    server = null
    pool = null
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/") match {
      case "" => "/"
      case p => p
    }
    try {
      (ex.getRequestMethod, path) match {
        case ("GET", "/") => respond(ex, 200, landingPage)
        case ("GET", "/conformance") => respond(ex, 200, conformancePage)
        case ("GET", "/collections") => respond(ex, 200,
          s"""{"collections":[${collections.map(mapper.writeValueAsString)
            .mkString(",")}],"links":[{"rel":"self","href":"/collections"}]}""")
        case ("GET", CollectionPath(id)) =>
          collections.find(_.id == id) match {
            case Some(c) => respond(ex, 200, mapper.writeValueAsString(c))
            case None => error(ex, 404, s"no such collection: $id")
          }
        case ("GET", CollectionItemPath(cid, iid)) =>
          serveItem(ex, cid, iid)
        case ("GET", CollectionItemsPath(id)) =>
          if (collections.nonEmpty && !collections.exists(_.id == id))
            error(ex, 404, s"no such collection: $id")
          else {
            val params = queryParams(ex)
            val q = searchFromParams(params).copy(collections = Seq(id))
            serveSearch(ex, q, params.get("token"),
              s"/collections/$id/items", getParams = Some(params))
          }
        case ("POST", CollectionItemsPath(cid)) =>
          transact(ex, cid, itemId = None, replace = false)
        case ("PUT", CollectionItemPath(cid, iid)) =>
          transact(ex, cid, itemId = Some(iid), replace = true)
        case ("DELETE", CollectionItemPath(cid, iid)) =>
          deleteItem(ex, cid, iid)
        case ("GET", "/search") =>
          val params = queryParams(ex)
          serveSearch(ex, searchFromParams(params), params.get("token"),
            "/search", getParams = Some(params))
        case ("GET", "/aggregations") =>
          serveAggregations(ex, searchFromParams(queryParams(ex)))
        case ("POST", "/search") =>
          val body = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          val node =
            if (body.isBlank) mapper.createObjectNode()
            else mapper.readTree(body)
          val (q, token) = searchFromJson(node)
          serveSearch(ex, q, token, "/search", getParams = None)
        case ("GET" | "POST" | "PUT" | "DELETE", _) =>
          error(ex, 404, s"no route: $path")
        case (m, _) => error(ex, 405, s"method not allowed: $m")
      }
    } catch {
      case e @ (_: IllegalArgumentException |
          _: com.fasterxml.jackson.core.JacksonException) =>
        error(ex, 400, Option(e.getMessage).getOrElse("bad request"))
      case NonFatal(e) =>
        error(ex, 500, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally ex.close()
  }

  private def serveSearch(ex: HttpExchange, q: CatalogQuery.Search,
      token: Option[String], selfHref: String,
      getParams: Option[Map[String, String]]): Unit = {
    // GET pages link next as an href carrying ALL original query
    // params (limit/sortby/filters must survive the page walk — a
    // token alone re-sorts page 2 under the DEFAULT order and the
    // keyset predicate misfires) with only the token swapped; POST
    // pages follow the stac-fastapi convention of a body merge patch
    val nextHref = getParams.map { params =>
      (t: String) => {
        val qs = (params - "token" + ("token" -> t)).toSeq.map {
          case (k, v) =>
            java.net.URLEncoder.encode(k, StandardCharsets.UTF_8) + "=" +
              java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
        }
        s"$selfHref?${qs.mkString("&")}"
      }
    }
    val page = FeatureCollection.page(items, q, token, selfHref, nextHref)
    respond(ex, 200, page.body)
  }

  /** STAC aggregation extension: total_count, per-collection
    * frequencies, and a monthly datetime histogram over the SAME
    * filter surface as /search (collections/bbox/datetime/filter all
    * apply). Aggregates the filtered FRAME — one Spark hash agg per
    * family, never a paged row walk — so the counts are exact however
    * large the catalog; only |collections| + |months| + 1 rows reach
    * the driver. */
  private def serveAggregations(
      ex: HttpExchange, q: CatalogQuery.Search): Unit = {
    import org.apache.spark.sql.functions.{col, count, date_format, lit}
    val filtered = CatalogQuery.compileFilter(items, q)
    // ONE scan: group by (collection, month) — |collections|×|months|
    // rows — and roll both marginals up driver-side, instead of two
    // independent actions each re-running the predicate scan
    val cells = filtered
      .groupBy(col("collection_id"),
        date_format(col("start_datetime"), "yyyy-MM").as("m"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("none"),
        r.getLong(2)))
    val perCollection = cells.groupBy(_._1).toSeq
      .map { case (c, rs) => (c, rs.map(_._3).sum) }.sortBy(_._1)
    val byMonth = cells.groupBy(_._2).toSeq
      .map { case (m, rs) => (m, rs.map(_._3).sum) }.sortBy(_._1)
    val total = cells.map(_._3).sum
    def buckets(bs: Seq[(String, Long)]): String = bs.map { case (k, n) =>
      s"""{"key":${mapper.writeValueAsString(k)},"frequency":$n}"""
    }.mkString("[", ",", "]")
    respond(ex, 200,
      s"""{"aggregations":[
         |{"name":"total_count","data_type":"integer","value":$total},
         |{"name":"collection_frequency","data_type":"frequency_distribution",
         |"buckets":${buckets(perCollection.toSeq)}},
         |{"name":"datetime_frequency","data_type":"frequency_distribution",
         |"frequency_interval":"month","buckets":${buckets(byMonth.toSeq)}}],
         |"links":[{"rel":"self","href":"/aggregations"}]}"""
        .stripMargin.replace("\n", ""))
  }

  /** OGC Features core: one item by id, as a GeoJSON Feature. */
  private def serveItem(ex: HttpExchange, cid: String, iid: String): Unit = {
    val rows = CatalogQuery.compile(items, CatalogQuery.Search(
      collections = Seq(cid), ids = Seq(iid), limit = 1))
      .select(FeatureCollection.featureColumn.as("f")).collect()
    if (rows.isEmpty) error(ex, 404, s"no item '$iid' in '$cid'")
    else respond(ex, 200, rows.head.getString(0))
  }

  /** Transaction extension: POST (create, 409 on existing id) and PUT
    * (create-or-replace). Mutations serialize through one lock —
    * upsert is read-merge-write, and two interleaved merges would
    * lose one of them. */
  private def transact(ex: HttpExchange, cid: String,
      itemId: Option[String], replace: Boolean): Unit = store match {
    case None =>
      error(ex, 405, "read-only server: transactions need a " +
        "path-backed catalog (StacApiServer.live)")
    case Some((spark, path)) =>
      if (collections.nonEmpty && !collections.exists(_.id == cid)) {
        error(ex, 404, s"no such collection: $cid"); return
      }
      val body = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      val item = itemFromJson(mapper.readTree(body), cid, itemId)
      txLock.synchronized {
        val exists = scala.util.Try(CatalogStore.read(spark, path)
          .filter(org.apache.spark.sql.functions.col("item_id") === item.item_id)
          .limit(1).count() > 0).getOrElse(false)
        if (exists && !replace)
          error(ex, 409, s"item '${item.item_id}' already exists — PUT replaces")
        else {
          import spark.implicits._
          CatalogStore.upsert(spark, path, Seq(item).toDS().toDF())
          respond(ex, if (exists) 200 else 201,
            s"""{"id":"${FeatureCollection.jsonEscape(item.item_id)}"""" +
              s""","collection":"${FeatureCollection.jsonEscape(cid)}"}""")
        }
      }
  }

  private def deleteItem(ex: HttpExchange, cid: String, iid: String): Unit =
    store match {
      case None =>
        error(ex, 405, "read-only server: transactions need a " +
          "path-backed catalog (StacApiServer.live)")
      case Some((spark, path)) => txLock.synchronized {
        val n = CatalogStore.delete(spark, path, Seq(iid))
        if (n == 0) error(ex, 404, s"no item '$iid' in '$cid'")
        else { // 204: empty body by definition
          ex.sendResponseHeaders(204, -1)
        }
      }
    }

  private val txLock = new Object

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def error(ex: HttpExchange, status: Int, msg: String): Unit =
    // a failure AFTER the response started (client hung up mid-write)
    // cannot be answered with an error document — a second
    // sendResponseHeaders would throw IllegalStateException out of the
    // handler. getResponseCode is -1 exactly until headers are sent
    // (per-exchange state — HttpExchange.setAttribute is NOT: it
    // writes the shared HttpContext map).
    if (ex.getResponseCode == -1)
      respond(ex, status,
        s"""{"code":$status,"description":"${FeatureCollection.jsonEscape(msg)}"}""")

  private def landingPage: String = {
    val links = Seq(
      """{"rel":"self","href":"/"}""",
      """{"rel":"conformance","href":"/conformance"}""",
      """{"rel":"data","href":"/collections"}""",
      """{"rel":"search","href":"/search","method":"GET"}""",
      """{"rel":"search","href":"/search","method":"POST"}""")
    s"""{"type":"Catalog","id":"${FeatureCollection.jsonEscape(catalogId)}"""" +
      s""","stac_version":"1.0.0","description":"graft engine catalog"""" +
      s""","links":[${links.mkString(",")}]""" +
      s""","conformsTo":[${conformsTo.map("\"" + _ + "\"").mkString(",")}]}"""
  }

  private def conformancePage: String =
    s"""{"conformsTo":[${conformsTo.map("\"" + _ + "\"").mkString(",")}]}"""
}

object StacApiServer {

  /** NRT server over a catalog PATH: each request plans against a
    * fresh CatalogStore.read, so a concurrent stream_upsert_sink's
    * merges are visible without restarting the server — the reference's
    * late-arrival loop (insitu collections.yaml: files land 24-48 h
    * late) closed end-to-end. Costs a parquet listing + footer merge
    * per request; a high-QPS deployment fronts this with the fixed-
    * frame constructor refreshed on a timer instead. */
  def live(spark: org.apache.spark.sql.SparkSession, path: String,
      collections: Seq[StacModel.StacCollection] = Seq.empty,
      catalogId: String = "graft"): StacApiServer =
    new StacApiServer(() => CatalogStore.read(spark, path),
      collections, catalogId, Some((spark, path)))

  private val mapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  /** TCP_NODELAY on accepted connections, unless the JVM was started
    * with `sun.net.httpserver.nodelay` set either way. The JDK server
    * flushes response headers as their own segment; under Nagle the
    * body then waits for the client's delayed ACK of them, ~40 ms per
    * response. The JDK reads the property once, when the JVM's first
    * HttpServer is created, so this must run before that. */
  private[graft] def preferNoDelay(): Unit = {
    val key = "sun.net.httpserver.nodelay"
    if (System.getProperty(key) == null) System.setProperty(key, "true")
  }

  private val CollectionPath = "/collections/([^/]+)".r
  private val CollectionItemsPath = "/collections/([^/]+)/items".r
  private val CollectionItemPath = "/collections/([^/]+)/items/([^/]+)".r

  /** Conformance classes actually implemented — core, collections,
    * item search, filter (text+json incl. spatial/temporal/advanced
    * comparison operators), and sort. */
  val conformsTo: Seq[String] = Seq(
    "https://api.stacspec.org/v1.0.0/core",
    "https://api.stacspec.org/v1.0.0/collections",
    "https://api.stacspec.org/v1.0.0/item-search",
    "https://api.stacspec.org/v1.0.0/item-search#filter",
    "https://api.stacspec.org/v1.0.0/item-search#sort",
    "https://api.stacspec.org/v1.0.0/item-search#fields",
    "https://api.stacspec.org/v0.3.0/aggregation",
    "https://api.stacspec.org/v1.0.0/ogcapi-features",
    "https://api.stacspec.org/v1.0.0/ogcapi-features/extensions/transaction",
    "http://www.opengis.net/spec/cql2/1.0/conf/cql2-text",
    "http://www.opengis.net/spec/cql2/1.0/conf/cql2-json",
    "http://www.opengis.net/spec/cql2/1.0/conf/advanced-comparison-operators",
    "http://www.opengis.net/spec/cql2/1.0/conf/case-insensitive-comparison",
    "http://www.opengis.net/spec/cql2/1.0/conf/basic-spatial-functions",
    "http://www.opengis.net/spec/cql2/1.0/conf/temporal-functions")

  private[catalog] def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map { raw =>
      raw.split("&").filter(_.nonEmpty).map { kv =>
        val (k, v) = kv.split("=", 2) match {
          case Array(k, v) => (k, v)
          case Array(k) => (k, "")
        }
        java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
          java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap
    }.getOrElse(Map.empty)

  /** GET-parameter form (STAC item-search query encoding). */
  private[catalog] def searchFromParams(
      p: Map[String, String]): CatalogQuery.Search = {
    var q = CatalogQuery.Search()
    p.get("collections").foreach(v =>
      q = q.copy(collections = v.split(",").toSeq.filter(_.nonEmpty)))
    p.get("ids").foreach(v =>
      q = q.copy(ids = v.split(",").toSeq.filter(_.nonEmpty)))
    p.get("bbox").foreach { v =>
      q = q.copy(bbox = Some(parseBbox(v.split(",").toSeq.map(d =>
        try d.toDouble catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bbox: not a number: '$d'")
        }))))
    }
    p.get("datetime").foreach(v => q = q.copy(interval = Some(parseInterval(v))))
    p.get("intersects").foreach(v => q = q.copy(intersects = Some(v)))
    p.get("filter").foreach { f =>
      // GET carries cql2-text unless filter-lang says otherwise
      if (p.get("filter-lang").contains("cql2-json"))
        q = q.copy(cql2Json = Some(f))
      else q = q.copy(cql2 = Some(f))
    }
    p.get("sortby").foreach(v => q = q.copy(sortBy = parseSortText(v)))
    // fields extension, GET form: `fields=bbox,properties.q,-assets`
    // (leading '-' excludes; bare/'+'/space — an unencoded '+' — includes)
    p.get("fields").foreach { v =>
      val (exc, inc) = v.split(",").toSeq.filter(_.nonEmpty)
        .partition(_.startsWith("-"))
      q = q.copy(fields = CatalogQuery.FieldsSpec(
        include = inc.map(f =>
          if (f.startsWith("+") || f.startsWith(" ")) f.substring(1) else f),
        exclude = exc.map(_.substring(1))))
    }
    p.get("limit").foreach { v =>
      val n = try v.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"limit: not an integer: '$v'")
      }
      require(n > 0 && n <= 10000, s"limit out of range: $n")
      q = q.copy(limit = n)
    }
    q
  }

  /** POST-body form (application/json). Returns (search, page token). */
  private[catalog] def searchFromJson(
      n: JsonNode): (CatalogQuery.Search, Option[String]) = {
    var q = CatalogQuery.Search()
    def strings(field: String): Seq[String] = {
      val a = n.get(field)
      require(a.isArray, s"$field: expected a JSON array")
      (0 until a.size).map(a.get(_).asText())
    }
    if (n.has("collections")) q = q.copy(collections = strings("collections"))
    if (n.has("ids")) q = q.copy(ids = strings("ids"))
    if (n.has("bbox")) {
      val a = n.get("bbox")
      require(a.isArray, "bbox: expected a JSON array")
      // asDouble() would silently coerce "a"/null/objects to 0.0 and
      // run a wrong search; the GET path 400s on these — match it
      q = q.copy(bbox = Some(parseBbox((0 until a.size).map { i =>
        val e = a.get(i)
        require(e.isNumber, s"bbox: not a number: $e")
        e.asDouble()
      })))
    }
    if (n.has("datetime"))
      q = q.copy(interval = Some(parseInterval(n.get("datetime").asText())))
    if (n.has("intersects")) {
      val g = n.get("intersects")
      require(g.isObject, "intersects: expected a GeoJSON geometry object")
      q = q.copy(intersects = Some(g.toString))
    }
    if (n.has("filter")) {
      val f = n.get("filter")
      val lang = Option(n.get("filter-lang")).map(_.asText())
        .getOrElse(if (f.isObject) "cql2-json" else "cql2-text")
      lang match {
        case "cql2-json" =>
          require(f.isObject, "filter: cql2-json filter must be an object")
          q = q.copy(cql2Json = Some(f.toString))
        case "cql2-text" =>
          require(f.isTextual, "filter: cql2-text filter must be a string")
          q = q.copy(cql2 = Some(f.asText()))
        case other =>
          throw new IllegalArgumentException(s"unknown filter-lang: $other")
      }
    }
    if (n.has("sortby")) {
      val a = n.get("sortby")
      require(a.isArray, "sortby: expected a JSON array")
      q = q.copy(sortBy = (0 until a.size).map { i =>
        val s = a.get(i)
        require(s.isObject && s.has("field"),
          "sortby: entries must be {field, direction} objects")
        (s.get("field").asText(),
          !Option(s.get("direction")).exists(_.asText() == "desc"))
      })
    }
    if (n.has("limit")) {
      val l = n.get("limit").asInt()
      require(l > 0 && l <= 10000, s"limit out of range: $l")
      q = q.copy(limit = l)
    }
    if (n.has("fields")) {
      val fs = n.get("fields")
      require(fs.isObject, "fields: expected {include, exclude} object")
      def arr(key: String): Seq[String] = Option(fs.get(key)).map { a =>
        require(a.isArray, s"fields.$key: expected a JSON array")
        (0 until a.size).map(a.get(_).asText())
      }.getOrElse(Seq.empty)
      q = q.copy(fields = CatalogQuery.FieldsSpec(
        include = arr("include"), exclude = arr("exclude")))
    }
    (q, Option(n.get("token")).map(_.asText()))
  }

  /** A POSTed/PUT STAC Item JSON → the catalog's typed row. Field
    * discipline matches the search side: bbox from the body or the
    * geometry envelope, datetimes from properties.datetime /
    * start_datetime / end_datetime (RFC 3339), property scalars
    * flattened to the stringly map the catalog stores. Malformed
    * input raises IllegalArgumentException → 400. */
  private[catalog] def itemFromJson(n: JsonNode, cid: String,
      forcedId: Option[String]): StacModel.StacItem = {
    require(n != null && n.isObject, "item: expected a JSON object")
    val id = forcedId.getOrElse {
      require(n.has("id") && n.get("id").isTextual, "item: 'id' required")
      n.get("id").asText()
    }
    require(id.nonEmpty, "item: empty id")
    forcedId.foreach { fid =>
      if (n.has("id"))
        require(n.get("id").asText() == fid,
          s"item id '${n.get("id").asText()}' does not match the path '$fid'")
    }
    val geomNode = Option(n.get("geometry")).filter(g => !g.isNull)
    val geomStr = geomNode.map(_.toString).orNull
    val parsedGeom = geomNode.map { g =>
      graft.geometry.Geometry.parseGeoJson(g.toString).getOrElse(
        throw new IllegalArgumentException(
          "item: unsupported or malformed geometry"))
    }
    val bbox: Seq[Double] =
      if (n.has("bbox") && n.get("bbox").isArray) {
        val a = n.get("bbox")
        val ds = (0 until a.size).map { i =>
          require(a.get(i).isNumber, s"item bbox: not a number: ${a.get(i)}")
          a.get(i).asDouble()
        }
        require(ds.length == 4 || ds.length == 6,
          s"item bbox: expected 4 or 6 numbers, got ${ds.length}")
        if (ds.length == 6) Seq(ds(0), ds(1), ds(3), ds(4)) else ds
      } else parsedGeom.map { g =>
        val (w, s, e, nn) = graft.geometry.Geometry.envelope(g)
        Seq(w, s, e, nn)
      }.getOrElse(throw new IllegalArgumentException(
        "item: a bbox or a geometry is required"))
    val props = Option(n.get("properties")).getOrElse(mapper.createObjectNode())
    require(props.isObject, "item: properties must be an object")
    def propStr(k: String): Option[String] =
      Option(props.get(k)).filterNot(_.isNull).map(_.asText())
    def parseTs(s: String): Timestamp =
      try Timestamp.from(java.time.OffsetDateTime.parse(s).toInstant)
      catch { case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"item datetime not RFC 3339: '$s'")
      }
    val start = propStr("start_datetime").orElse(propStr("datetime"))
      .map(parseTs).getOrElse(throw new IllegalArgumentException(
        "item: properties.datetime or start_datetime required"))
    val end = propStr("end_datetime").orElse(propStr("datetime"))
      .map(parseTs).getOrElse(start)
    val propMap = {
      val it = props.fieldNames()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val k = it.next()
        val v = props.get(k)
        b += k -> (if (v.isValueNode) v.asText() else v.toString)
      }
      b.result()
    }
    val assets = Option(n.get("assets")).filter(_.isObject).map { a =>
      val it = a.fieldNames()
      val b = Map.newBuilder[String, StacModel.AssetRef]
      while (it.hasNext) {
        val k = it.next()
        val v = a.get(k)
        b += k -> StacModel.AssetRef(
          Option(v.get("href")).map(_.asText()).getOrElse(""),
          Option(v.get("type")).map(_.asText()).getOrElse(""))
      }
      b.result()
    }.getOrElse(Map.empty)
    val links = Option(n.get("links")).filter(_.isArray).map { l =>
      (0 until l.size).map { i =>
        StacModel.LinkRef(
          Option(l.get(i).get("rel")).map(_.asText()).getOrElse(""),
          Option(l.get(i).get("href")).map(_.asText()).getOrElse(""))
      }
    }.getOrElse(Seq.empty)
    StacModel.StacItem(id, cid, geomStr, bbox,
      bbox(0), bbox(1), bbox(2), bbox(3), start, end, Seq(start),
      propMap, assets, links, source_url = "api:transaction",
      ingested_at = new Timestamp(System.currentTimeMillis()))
  }

  /** STAC bbox: [w,s,e,n] or [w,s,zmin,e,n,zmax] (elevation dropped). */
  private[catalog] def parseBbox(
      ds: Seq[Double]): (Double, Double, Double, Double) = ds match {
    case Seq(w, s, e, n) => (w, s, e, n)
    case Seq(w, s, _, e, n, _) => (w, s, e, n)
    case _ => throw new IllegalArgumentException(
      s"bbox: expected 4 or 6 numbers, got ${ds.length}")
  }

  /** RFC 3339 instant or interval; `..` (or empty) opens an end. */
  private[catalog] def parseInterval(s: String): (Timestamp, Timestamp) = {
    def ts(part: String, open: Timestamp): Timestamp =
      if (part.isEmpty || part == "..") open
      else try Timestamp.from(java.time.OffsetDateTime.parse(part).toInstant)
      catch { case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"datetime: not RFC 3339: '$part'")
      }
    val minTs = Timestamp.valueOf("0001-01-01 00:00:00")
    val maxTs = Timestamp.valueOf("9999-12-31 23:59:59")
    s.split("/", -1) match {
      case Array(single) => val t = ts(single, minTs); (t, t)
      case Array(a, b) => (ts(a, minTs), ts(b, maxTs))
      case _ => throw new IllegalArgumentException(
        s"datetime: expected instant or interval, got '$s'")
    }
  }

  /** GET sortby: `+field,-field,field` (bare = ascending). A leading
    * space also means ascending: an unencoded `+` in the query string
    * URL-decodes to ' ', the single most common client slip. */
  private[catalog] def parseSortText(s: String): Seq[(String, Boolean)] =
    s.split(",").toSeq.filter(_.nonEmpty).map {
      case f if f.startsWith("-") => (f.substring(1), false)
      case f if f.startsWith("+") || f.startsWith(" ") => (f.substring(1), true)
      case f => (f, true)
    }
}
