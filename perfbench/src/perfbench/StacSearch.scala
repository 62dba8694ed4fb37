package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._
import graft.ingest.InsituSource

/** `stac_search`: read-only STAC API traffic against a fixed-frame
  * `StacApiServer` over a month-partitioned catalog (the AVHRR grid plus
  * the 15 in-situ collections), from a closed loop of callers that each
  * wait for their reply. */
object StacSearch {
  /** Catalog span: one month of the 3-minute grid. */
  val Days = 31
  val Slots: Long = Days.toLong * Grid.PerDay
  /** Operations per second of `--seconds`: about what four callers
    * complete on four cores. */
  val OpsPerSecond = 8

  /** Setup: the grid and the in-situ platforms, assembled into items
    * and written month-partitioned. */
  def build(spark: SparkSession, path: String): Unit =
    CatalogStore.writeMonthly(ItemAssembly.assemble(Grid.rows(spark, 0, Slots))._1
      .unionByName(InsituAssembly.assemble(InsituSource.platforms(spark))._1), path)

  private def iso(sec: Long) = Grid.isoOf(sec)
  private def ts(sec: Long) = new Timestamp(sec * 1000)

  /** The seeded mix: `n` operations, rounded down to a multiple of six,
    * in seeded order. An operation is one request, or a page walk: a
    * search and the next links it follows over three pages. No request
    * log of the reference service is available, so the mix is an
    * assumption: each of the six request forms is a sixth of the
    * operations, exactly, so that every seed weighs them alike. */
  def requests(seed: Long, n: Int, items: Array[Grid.Item]): Vector[Stac.Req] = {
    val rng = new SplittableRandom(seed)
    val C = Grid.Collection
    def window(): (Long, Long) = {
      val t0 = Grid.dayStart(rng.nextInt(Days)) + rng.nextInt(24) * 3600L
      (t0, t0 + Seq(6, 12, 24)(rng.nextInt(3)) * 3600L - 1)
    }
    def during(t0: Long, t1: Long) =
      Grid.slotsDuring(t0, t1, Slots).map(k => items(k))
    def box(): (Double, Double, Double, Double) = {
      val w = -90 + rng.nextInt(140) + 0.5
      val s = -60 + rng.nextInt(80) + 0.5
      (w, s, w + 30 + rng.nextInt(60), s + 15 + rng.nextInt(30))
    }
    def limit() = Seq(10, 25, 50)(rng.nextInt(3))
    def one(form: Int): Stac.Req = form match {
      case 0 => // bbox + datetime + sortby
        val (t0, t1) = window(); val (w, s, e, nn) = box(); val l = limit()
        val asc = rng.nextBoolean()
        val ids = Stac.ordered(during(t0, t1), _.overlaps(w, s, e, nn), Some(asc))
        Stac.Req("bbox_datetime", "GET", "/search?" + Grid.query(
          "collections" -> C, "bbox" -> s"$w,$s,$e,$nn",
          "datetime" -> s"${iso(t0)}/${iso(t1)}",
          "sortby" -> ((if (asc) "+" else "-") + "start_datetime"),
          "limit" -> l.toString), "",
          Some(CatalogQuery.Search(collections = Seq(C), bbox = Some((w, s, e, nn)),
            interval = Some((ts(t0), ts(t1))),
            sortBy = Seq(("start_datetime", asc)), limit = l)),
          Stac.Features(ids, l, 1))
      case 1 => // cql2-text property filter over the whole grid
        val a = -60 + rng.nextInt(100) + 0.5
        val b = -80 + rng.nextInt(150) + 0.5
        val f = s"bbox_s >= $a AND bbox_w < $b"
        val l = limit()
        val ids = Stac.ordered(items, i => i.s >= a && i.w < b, None)
        Stac.Req("cql2_text", "GET", "/search?" + Grid.query(
          "collections" -> C, "filter" -> f, "filter-lang" -> "cql2-text",
          "limit" -> l.toString), "",
          Some(CatalogQuery.Search(collections = Seq(C), cql2 = Some(f), limit = l)),
          Stac.Features(ids, l, 1))
      case 2 => // POST cql2-json s_intersects
        val (t0, t1) = window(); val (w, s, e, nn) = box(); val l = limit()
        val filter = s"""{"op":"s_intersects","args":[{"property":"geometry"},""" +
          Grid.polygon(w, s, e, nn) + "]}"
        val ids = Stac.ordered(during(t0, t1), _.overlaps(w, s, e, nn), None)
        Stac.Req("cql2_json_intersects", "POST", "/search",
          s"""{"collections":["$C"],"datetime":"${iso(t0)}/${iso(t1)}",""" +
            s""""filter-lang":"cql2-json","filter":$filter,"limit":$l}""",
          Some(CatalogQuery.Search(collections = Seq(C),
            interval = Some((ts(t0), ts(t1))), cql2Json = Some(filter), limit = l)),
          Stac.Features(ids, l, 1))
      case 3 => // one item
        val it = items(rng.nextInt(items.length))
        Stac.Req("item", "GET", s"/collections/$C/items/${it.id}", "",
          Some(CatalogQuery.Search(collections = Seq(C), ids = Seq(it.id), limit = 1)),
          Stac.One(it.id))
      case 4 => // aggregations over a few days
        val t0 = Grid.dayStart(rng.nextInt(Days - 3))
        val t1 = t0 + (1 + rng.nextInt(3)) * 86400L - 1
        Stac.Req("aggregations", "GET", "/aggregations?" + Grid.query(
          "collections" -> C, "datetime" -> s"${iso(t0)}/${iso(t1)}"), "",
          None, Stac.Total(during(t0, t1).size.toLong))
      case _ => // next-link walk over three full pages: every walk is
        // alike, so the tail percentile falls among walks on every seed
        val l = Seq(10, 25)(rng.nextInt(2))
        def draw(): ((Long, Long), (Double, Double, Double, Double), Seq[String]) = {
          val (t0, t1) = window(); val (w, s, e, nn) = box()
          val ids = Stac.ordered(during(t0, t1), _.overlaps(w, s, e, nn), Some(true))
          if (ids.size > 2 * l) ((t0, t1), (w, s, e, nn), ids) else draw()
        }
        val ((t0, t1), (w, s, e, nn), ids) = draw()
        Stac.Req("page_walk", "GET", "/search?" + Grid.query(
          "collections" -> C, "bbox" -> s"$w,$s,$e,$nn",
          "datetime" -> s"${iso(t0)}/${iso(t1)}", "sortby" -> "+start_datetime",
          "limit" -> l.toString), "",
          Some(CatalogQuery.Search(collections = Seq(C), bbox = Some((w, s, e, nn)),
            interval = Some((ts(t0), ts(t1))),
            sortBy = Seq(("start_datetime", true)), limit = l)),
          Stac.Features(ids, l, 3))
    }
    val forms = new scala.util.Random(rng.nextLong())
      .shuffle(Vector.tabulate(math.max(6, n - n % 6))(_ % 6))
    forms.map(one)
  }

  /** The grid item an id names, when it names one in the catalog. */
  def itemOf(items: Array[Grid.Item])(id: String): Option[Grid.Item] =
    scala.util.Try {
      val sec = java.time.LocalDateTime.parse(id.stripPrefix("granule-"),
        java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss"))
        .toEpochSecond(java.time.ZoneOffset.UTC)
      items(((sec - Grid.Start) / Grid.StepS).toInt)
    }.toOption.filter(_.id == id)

  /** Run `reqs` from `clients` closed-loop callers; every operation is
    * timed into `ops`, and checked once the loop is over. */
  def load(base: String, reqs: Vector[Stac.Req], clients: Int, ops: Ops,
      trace: Trace): Seq[(Stac.Req, Seq[Stac.Resp])] = {
    val next = new AtomicInteger(0)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Stac.Req, Seq[Stac.Resp])]()
    val opIds = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = (1 to clients).map { c =>
      new Thread(() => {
        val client = new Stac.Client(base)
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val r = reqs(i)
          try trace.op("request", opIds.incrementAndGet()) {
            val (rs, ms) = client.run(r)
            ops.record(r.kind, ms)
            done.add((r, rs))
          } catch {
            case e: Exception => ops.fail(s"${r.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          i = next.getAndIncrement()
        }
      }, s"stac-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq
  }

  def run(spark: SparkSession, st: Settings, trace: Trace,
      probe: Option[SparkProbe], setupStart: Double): Outcome = {
    val items = Array.tabulate(Slots.toInt)(k => Grid.item(k.toLong))
    val path = st.work.resolve("catalog").toString
    val b0 = System.nanoTime()
    trace.op("setup", -1)(trace.span("catalog.build")(build(spark, path)))
    val buildS = (System.nanoTime() - b0) / 1e9
    val frame = CatalogStore.read(spark, path)
    val server = new StacApiServer(frame)
    val base = server.start()
    try {
      // half the timed phase: load keeps getting faster for a while, and
      // a longer warm-up makes per-operation CPU steadier from run to run
      val warm = requests(st.seed ^ 0x5eed, st.seconds * OpsPerSecond / 2, items)
      val w0 = System.nanoTime()
      load(base, warm, st.clients, new Ops, new Trace(false))
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = setupStart + buildS + warmS

      val reqs = requests(st.seed, st.seconds * OpsPerSecond, items)
      val ops = new Ops
      val phase = new Phase
      val answered = load(base, reqs, st.clients, ops, trace)
      phase.stop()
      val heap = Stats.retainedHeapMb()
      answered.foreach { case (r, rs) =>
        Stac.verify(r, rs, itemOf(items)).foreach(ops.fail) }
      val (e2e, info) = Outcome.endToEnd(ops, _ => true, phase, setupS, heap)
      val layers = probe.map(p => replay(spark, frame, base, reqs.take(reqs.size / 4),
        trace, p, itemOf(items), ops)).getOrElse(Map.empty)
      Outcome(ops.latencies.size, ops.failed, e2e, layers,
        info ++ Map("setup_build_s" -> buildS, "warmup_s" -> warmS))
    } finally server.stop()
  }

  /** Traced replay, one request at a time: each request over HTTP, then
    * the same search through the engine's layers in-process. */
  private def replay(spark: SparkSession, items: DataFrame, base: String,
      reqs: Seq[Stac.Req], trace: Trace, probe: SparkProbe,
      byId: String => Option[Grid.Item], ops: Ops): Map[String, Double] = {
    val client = new Stac.Client(base)
    val cols = items.columns.toSet
    val pairs = Seq.newBuilder[(Double, Double)] // (http ms, engine page ms)
    val respBytes = Seq.newBuilder[Double]
    var features = 0L
    val from = trace.nowMs
    reqs.zipWithIndex.foreach { case (r, i) =>
      trace.op("request", i.toLong + 1) {
        val (httpRs, _) = trace.span("http.request")(client.run(r))
        respBytes ++= httpRs.map(_.body.length.toDouble)
        Stac.verify(r, httpRs, byId).foreach(ops.fail)
        r.search.foreach { q =>
          trace.span("engine") {
            q.cql2.foreach(t => trace.span("cql2.compile")(Cql2Filter.compile(t, cols)))
            q.cql2Json.foreach(j => trace.span("cql2.compile")(Cql2Filter.compileJson(j, cols)))
            trace.span("catalog.compile")(CatalogQuery.compile(items, q))
            if (r.kind == "item") {
              val t0 = trace.nowMs
              val rows = trace.span("catalog.page") {
                CatalogQuery.compile(items, q)
                  .select(FeatureCollection.featureColumn.as("f")).collect()
              }
              features += rows.length
              pairs += ((httpRs.head.ms, trace.nowMs - t0))
            } else {
              var token: Option[String] = None
              httpRs.foreach { h =>
                val t0 = trace.nowMs
                val page = trace.span("catalog.page")(FeatureCollection.page(items, q, token))
                pairs += ((h.ms, trace.nowMs - t0))
                features += page.numberReturned
                token = page.nextToken
              }
            }
          }
        }
      }
    }
    val until = trace.nowMs
    Layers.fromProbe(spark, probe, trace, from, until, "engine", reqs.size) ++ Map(
      "cql2.compile_ms" -> Layers.meanMs(trace, "cql2.compile"),
      "catalog.compile_ms" -> Layers.meanMs(trace, "catalog.compile"),
      "catalog.page_ms" -> Layers.meanMs(trace, "catalog.page"),
      "http.overhead_ms" -> Layers.mean(pairs.result().map { case (h, e) => h - e }),
      "catalog.rows_scanned_per_result" ->
        probe.windows(trace.named("catalog.page")).inputRecords / math.max(1L, features),
      "catalog.resp_bytes" -> Layers.mean(respBytes.result()))
  }
}
