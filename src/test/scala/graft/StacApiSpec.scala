package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import graft.catalog._
import graft.ingest.FixtureGranuleSource

/** The STAC API served over real HTTP (SURVEY §3.3; stac-fastapi's
  * role in docker-compose.yml:1-28): a JDK HttpClient walks the same
  * endpoints a STAC client would — landing, conformance, collections,
  * GET/POST search with bbox/datetime/filter/intersects and token
  * paging — against the engine's Spark-backed catalog.
  */
class StacApiSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private lazy val http = HttpClient.newHttpClient()

  private lazy val (base, items, server) = {
    val tmp = Files.createTempDirectory("graft-api").toString + "/items"
    val (built, _) = ItemAssembly.assemble(
      new FixtureGranuleSource(end = "2022-05-01 02:59:59").granules(spark))
    CatalogStore.write(built, tmp)
    val stored = CatalogStore.read(spark, tmp)
    val cols = CollectionsYaml.load(spark,
      getClass.getResource("/collections_fixture.yaml").getPath).collect().toSeq
    val srv = new StacApiServer(stored, cols, catalogId = "graft-test")
    (srv.start(), stored, srv)
  }

  override def afterAll(): Unit = {
    try server.stop() finally super.afterAll()
  }

  private def get(path: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def featureIds(body: String): Seq[String] = {
    val n = mapper.readTree(body).get("features")
    (0 until n.size).map(n.get(_).get("id").asText())
  }

  test("landing, conformance, and collection documents serve") {
    val (s0, landing) = get("/")
    assert(s0 == 200)
    val ln = mapper.readTree(landing)
    assert(ln.get("type").asText() == "Catalog")
    assert(ln.get("conformsTo").size >= 5)

    val (s1, conf) = get("/conformance")
    assert(s1 == 200 && conf.contains("item-search"))

    val (s2, colls) = get("/collections")
    assert(s2 == 200)
    val cn = mapper.readTree(colls).get("collections")
    assert(cn.size == 3)

    val (s3, one) = get("/collections/AVHRR_SST_METOP_B-OSISAF-L2P-v1.0")
    assert(s3 == 200)
    assert(mapper.readTree(one).get("license").asText().nonEmpty)
    assert(mapper.readTree(one).get("id").asText()
      == "AVHRR_SST_METOP_B-OSISAF-L2P-v1.0")

    assert(get("/collections/NOPE")._1 == 404)
    assert(get("/no/such/route")._1 == 404)
  }

  test("sequential requests do not wait on delayed ACKs (TCP_NODELAY)") {
    // without TCP_NODELAY each response body waits ~40 ms for the
    // client's delayed ACK of the separately flushed headers
    assert(get("/conformance")._1 == 200)
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      assert(get("/conformance")._1 == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 20.0, s"median round trip $median ms: ${ms.mkString(", ")}")
  }

  test("GET /search pages through next hrefs, disjoint and complete") {
    val total = items.count().toInt
    val limit = 7
    var path = s"/search?limit=$limit&sortby=%2Bstart_datetime"
    var seen = Vector.empty[String]
    var pages = 0
    while (path != null && pages < 100) {
      val (status, body) = get(path)
      assert(status == 200, body)
      seen ++= featureIds(body)
      pages += 1
      val links = mapper.readTree(body).get("links")
      val next = (0 until links.size).map(links.get)
        .find(_.get("rel").asText() == "next")
      path = next.map(_.get("href").asText()).orNull
    }
    assert(seen.length == total, "every item exactly once across pages")
    assert(seen.distinct.length == total, "no item repeats across pages")
    // parity with the direct (non-HTTP) page call
    val direct = FeatureCollection.page(items,
      CatalogQuery.Search(sortBy = Seq(("start_datetime", true)), limit = limit))
    assert(featureIds(direct.body) == seen.take(limit))
  }

  test("GET /collections/{id}/items applies bbox + datetime params") {
    val path = "/collections/AVHRR_SST_METOP_B-OSISAF-L2P-v1.0/items" +
      "?bbox=-60,-40,60,40" +
      "&datetime=2022-05-01T01:00:00Z/2022-05-01T02:00:00Z&limit=50"
    val (status, body) = get(path)
    assert(status == 200, body)
    val ids = featureIds(body)
    assert(ids.nonEmpty)
    // equivalent direct search returns the same ids
    val direct = CatalogQuery.compile(items, CatalogQuery.Search(
      collections = Seq("AVHRR_SST_METOP_B-OSISAF-L2P-v1.0"),
      bbox = Some((-60.0, -40.0, 60.0, 40.0)),
      interval = Some((
        java.sql.Timestamp.valueOf("2022-05-01 01:00:00"),
        java.sql.Timestamp.valueOf("2022-05-01 02:00:00"))),
      limit = 50)).select("item_id").collect().map(_.getString(0)).toSet
    assert(ids.toSet == direct)
    assert(get("/collections/NOPE/items")._1 == 404)
  }

  test("POST /search: cql2-json filter, sortby desc, and body token paging") {
    val req = """{
      "filter-lang": "cql2-json",
      "filter": {"op": ">=", "args": [{"property": "bbox_n"}, 20]},
      "sortby": [{"field": "start_datetime", "direction": "desc"}],
      "limit": 5
    }"""
    val (status, body) = post("/search", req)
    assert(status == 200, body)
    val page1 = featureIds(body)
    assert(page1.size == 5)
    // next link carries a body token (POST convention); merge it in
    val links = mapper.readTree(body).get("links")
    val token = (0 until links.size).map(links.get)
      .find(_.get("rel").asText() == "next").get
      .get("body").get("token").asText()
    val (s2, body2) = post("/search",
      req.stripSuffix("}").stripSuffix("\n    ") + s""", "token": "$token"}""")
    assert(s2 == 200, body2)
    val page2 = featureIds(body2)
    assert(page2.nonEmpty && page1.toSet.intersect(page2.toSet).isEmpty)
    // the filter actually applied: every result has bbox_n >= 20
    val direct = CatalogQuery.compile(items, CatalogQuery.Search(
      cql2 = Some("bbox_n >= 20"),
      sortBy = Seq(("start_datetime", false)), limit = 5))
      .select("item_id").collect().map(_.getString(0)).toSeq
    assert(page1 == direct)
  }

  test("POST /search intersects runs the exact predicate, not bbox overlap") {
    // all fixture geometries are polygons spanning wide swaths; assert
    // protocol plumbing end-to-end: intersects returns a subset of the
    // equivalent envelope bbox search, and both non-empty
    val env = """[-20, -20, 20, 20]"""
    val (sb, bodyB) = post("/search",
      s"""{"bbox": $env, "limit": 500}""")
    assert(sb == 200, bodyB)
    val viaBbox = featureIds(bodyB).toSet
    val poly = """{"type":"Polygon","coordinates":
      [[[-20,-20],[20,-20],[20,20],[-20,20],[-20,-20]]]}"""
    val (si, bodyI) = post("/search",
      s"""{"intersects": ${poly.replaceAll("\\s", "")}, "limit": 500}""")
    assert(si == 200, bodyI)
    val viaExact = featureIds(bodyI).toSet
    assert(viaExact.nonEmpty && viaExact.subsetOf(viaBbox))
  }

  test("CQL2 spatial/temporal/casei filters run over HTTP, both encodings") {
    // s_intersects via GET cql2-text: HTTP result == direct compile
    val wkt = "S_INTERSECTS(geometry, POLYGON((0 0, 60 0, 60 40, 0 40, 0 0)))"
    val (sg, bodyG) = get("/search?limit=500&filter=" +
      java.net.URLEncoder.encode(wkt, java.nio.charset.StandardCharsets.UTF_8))
    assert(sg == 200, bodyG)
    val viaText = featureIds(bodyG).toSet
    val direct = CatalogQuery.compile(items, CatalogQuery.Search(
      cql2 = Some(wkt), limit = 500))
      .select("item_id").collect().map(_.getString(0)).toSet
    assert(viaText.nonEmpty && viaText == direct)
    // the same filter as POSTed cql2-json must agree
    val (sj, bodyJ) = post("/search",
      """{"filter-lang":"cql2-json","filter":
        {"op":"s_intersects","args":[{"property":"geometry"},
        {"type":"Polygon",
        "coordinates":[[[0,0],[60,0],[60,40],[0,40],[0,0]]]}]},
        "limit":500}""".replaceAll("\n\\s*", ""))
    assert(sj == 200, bodyJ)
    assert(featureIds(bodyJ).toSet == viaText)
    // t_intersects over HTTP narrows to the granules overlapping the hour
    val tq = "T_INTERSECTS(datetime, " +
      "INTERVAL('2022-05-01T00:00:00Z', '2022-05-01T00:59:59Z'))"
    val (st, bodyT) = get("/search?limit=500&filter=" +
      java.net.URLEncoder.encode(tq, java.nio.charset.StandardCharsets.UTF_8))
    assert(st == 200, bodyT)
    val viaTime = featureIds(bodyT).toSet
    val directTime = CatalogQuery.compile(items, CatalogQuery.Search(
      cql2 = Some(tq), limit = 500))
      .select("item_id").collect().map(_.getString(0)).toSet
    assert(viaTime.nonEmpty && viaTime == directTime &&
      viaTime.size < items.count())
    // the new conformance classes are advertised
    val (_, conf) = get("/conformance")
    assert(conf.contains("basic-spatial-functions") &&
      conf.contains("temporal-functions") &&
      conf.contains("case-insensitive-comparison"))
    // casei + between compile through the HTTP text path too
    assert(get("/search?limit=5&filter=" + java.net.URLEncoder.encode(
      "CASEI(item_id) LIKE 'GRANULE%' AND bbox_n BETWEEN -90 AND 90",
      java.nio.charset.StandardCharsets.UTF_8))._1 == 200)
  }

  test("fields extension projects responses in both encodings") {
    def enc(s: String) = java.net.URLEncoder.encode(s,
      java.nio.charset.StandardCharsets.UTF_8)
    // exclude drops members; core members always render
    val (s1, b1) = get("/search?limit=3&fields=-assets,-links")
    assert(s1 == 200, b1)
    val f1 = mapper.readTree(b1).get("features").get(0)
    assert(!f1.has("assets") && !f1.has("links"))
    assert(f1.has("geometry") && f1.has("bbox") && f1.has("id") &&
      f1.has("properties"))
    // include narrows to the listed members + the always-rendered core
    val (s2, b2) = get("/search?limit=3&fields=bbox")
    assert(s2 == 200, b2)
    val f2 = mapper.readTree(b2).get("features").get(0)
    assert(f2.has("bbox") && f2.has("id") && f2.has("collection"))
    assert(!f2.has("geometry") && !f2.has("assets") && !f2.has("properties"))
    // properties.<name> path keeps only that key inside the map
    val (s3, b3) = get("/search?limit=3&fields=" +
      enc("properties.start_datetime"))
    assert(s3 == 200, b3)
    val f3 = mapper.readTree(b3).get("features").get(0)
    val propKeys = {
      val it = f3.get("properties").fieldNames()
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) buf += it.next()
      buf.toSeq
    }
    assert(propKeys == Seq("start_datetime"), s"got $propKeys")
    assert(!f3.has("bbox") && !f3.has("geometry"))
    // POST form agrees with the GET form
    val (s4, b4) = post("/search",
      """{"limit":3,"fields":{"exclude":["assets","links"]}}""")
    assert(s4 == 200, b4)
    assert(mapper.readTree(b4).get("features") ==
      mapper.readTree(b1).get("features"))
    // unknown field name is a clean 400
    assert(get("/search?fields=nope")._1 == 400)
    // fields survive the page walk (next href carries them)
    val links = mapper.readTree(b1).get("links")
    val next = (0 until links.size).map(links.get)
      .find(_.get("rel").asText() == "next").get.get("href").asText()
    val (s5, b5) = get(next)
    assert(s5 == 200 && !mapper.readTree(b5).get("features").get(0)
      .has("assets"))
  }

  test("OGC single-item fetch and the Transaction extension") {
    val cid = "AVHRR_SST_METOP_B-OSISAF-L2P-v1.0"
    // a live server over its own store — mutations must not disturb
    // the shared read-only fixture server
    val tmp = Files.createTempDirectory("graft-tx").toString + "/items"
    val (built, _) = ItemAssembly.assemble(
      new FixtureGranuleSource(end = "2022-05-01 00:59:59").granules(spark))
    CatalogStore.write(built, tmp)
    val srv = StacApiServer.live(spark, tmp)
    val b2 = srv.start()
    def req(method: String, path: String, body: String = null): (Int, String) = {
      val builder = HttpRequest.newBuilder(URI.create(b2 + path))
      val r = http.send((method match {
        case "GET" => builder.GET()
        case "DELETE" => builder.DELETE()
        case m => builder.method(m,
          HttpRequest.BodyPublishers.ofString(body))
      }).build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      val firstId = spark.read.parquet(tmp)
        .orderBy("item_id").select("item_id").first().getString(0)
      // OGC Features core: one item by id as a GeoJSON Feature
      val (s0, one) = req("GET", s"/collections/$cid/items/$firstId")
      assert(s0 == 200, one)
      val f = mapper.readTree(one)
      assert(f.get("id").asText() == firstId &&
        f.get("type").asText() == "Feature")
      assert(req("GET", s"/collections/$cid/items/nope")._1 == 404)
      // POST creates; the item is immediately searchable
      val item = """{"id":"tx-item-1",
        "geometry":{"type":"Point","coordinates":[10.0,20.0]},
        "properties":{"datetime":"2022-05-02T00:00:00Z","grade":"good"},
        "assets":{"data":{"href":"s3://bucket/g.nc",
          "type":"application/netcdf"}}}""".replaceAll("\n\\s*", "")
      val (sc, created) = req("POST", s"/collections/$cid/items", item)
      assert(sc == 201, created)
      val (sg, fetched) = req("GET", s"/collections/$cid/items/tx-item-1")
      assert(sg == 200, fetched)
      val fj = mapper.readTree(fetched)
      assert(fj.get("properties").get("grade").asText() == "good")
      assert(fj.get("bbox").get(0).asDouble() == 10.0) // from the envelope
      // POST on an existing id: 409, PUT replaces
      assert(req("POST", s"/collections/$cid/items", item)._1 == 409)
      val (sp, _) = req("PUT", s"/collections/$cid/items/tx-item-1",
        item.replace("\"good\"", "\"better\""))
      assert(sp == 200)
      assert(mapper.readTree(req("GET",
        s"/collections/$cid/items/tx-item-1")._2)
        .get("properties").get("grade").asText() == "better")
      // malformed item: clean 400s
      assert(req("POST", s"/collections/$cid/items", """{"id":"x"}""")._1 == 400)
      assert(req("POST", s"/collections/$cid/items",
        """{"id":"x","bbox":[1,2,3,4],"properties":{"datetime":"yesterday"}}""")
        ._1 == 400)
      // DELETE removes it; a second DELETE 404s; the rest survive
      assert(req("DELETE", s"/collections/$cid/items/tx-item-1")._1 == 204)
      assert(req("GET", s"/collections/$cid/items/tx-item-1")._1 == 404)
      assert(req("DELETE", s"/collections/$cid/items/tx-item-1")._1 == 404)
      assert(req("GET", s"/collections/$cid/items/$firstId")._1 == 200)
      // the fixed-frame fixture server stays read-only
      assert(post(s"/collections/$cid/items", item)._1 == 405)
    } finally srv.stop()
  }

  test("GET /aggregations counts the filter surface, not a page") {
    val (s0, body) = get("/aggregations")
    assert(s0 == 200, body)
    val aggs = mapper.readTree(body).get("aggregations")
    val total = aggs.get(0)
    assert(total.get("name").asText() == "total_count")
    // exact frame count — NOT capped at the default page limit (10),
    // which a paged implementation would wrongly report
    val expect = items.count()
    assert(total.get("value").asLong() == expect, body)
    assert(expect > 10, "fixture must exceed a page to prove the point")
    val coll = aggs.get(1)
    assert(coll.get("name").asText() == "collection_frequency")
    val collTotal = (0 until coll.get("buckets").size())
      .map(i => coll.get("buckets").get(i).get("frequency").asLong()).sum
    assert(collTotal == expect)
    val months = aggs.get(2)
    assert(months.get("frequency_interval").asText() == "month")
    assert(months.get("buckets").get(0).get("key").asText()
      .matches("\\d{4}-\\d{2}"))
    // the same filter params /search honors narrow the aggregation
    val (s1, filtered) = get("/aggregations?datetime=" +
      "2022-05-01T00:00:00Z/2022-05-01T00:59:59Z")
    assert(s1 == 200)
    val fTotal = mapper.readTree(filtered).get("aggregations").get(0)
      .get("value").asLong()
    assert(fTotal > 0 && fTotal < expect, s"$fTotal vs $expect")
    // conformance advertises the extension
    assert(get("/conformance")._2.contains("aggregation"))
  }

  test("malformed requests answer 400 with a JSON error, not a crash") {
    assert(get("/search?bbox=1,2,three,4")._1 == 400)
    assert(get("/search?limit=0")._1 == 400)
    assert(get("/search?limit=nope")._1 == 400)
    assert(get("/search?datetime=yesterday")._1 == 400)
    val (s1, b1) = post("/search", """{"filter-lang":"cql2-json","filter": 3}""")
    assert(s1 == 400 && mapper.readTree(b1).get("code").asInt() == 400)
    assert(post("/search", "{not json")._1 == 400)
    // an invalid page token is a clean 400 (decodeToken raises IAE)
    assert(get("/search?token=garbage")._1 == 400)
    // a token replayed under a DIFFERENT sortby is a clean 400, not a
    // 500 cast error mid-scan
    val (_, sorted) = get("/search?limit=3&sortby=%2Bstart_datetime")
    val tok = {
      val links = mapper.readTree(sorted).get("links")
      val href = (0 until links.size).map(links.get)
        .find(_.get("rel").asText() == "next").get.get("href").asText()
      href.split("token=")(1)
    }
    assert(get(s"/search?limit=3&sortby=%2Bbbox_n&token=$tok")._1 == 400)
    // unknown sort column: 400, not an AnalysisException-500
    assert(get("/search?sortby=bogus_col")._1 == 400)
    // an UNENCODED '+' decodes to a space — still means ascending
    assert(get("/search?limit=3&sortby=+start_datetime")._1 == 200)
    // POST bbox with non-numeric entries must 400 like the GET path,
    // not silently search bbox (0,0,0,0)
    assert(post("/search", """{"bbox":["a","b","c","d"]}""")._1 == 400)
    // degenerate-but-well-formed intersects geometry: clean 400
    assert(post("/search",
      """{"intersects":{"type":"MultiPolygon","coordinates":[]}}""")._1 == 400)
    assert(post("/search",
      """{"intersects":{"type":"Polygon","coordinates":[[]]}}""")._1 == 400)
    // server still healthy after the error barrage
    assert(get("/")._1 == 200)
  }
}
