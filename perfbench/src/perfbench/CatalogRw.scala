package perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.catalog._

/** `catalog_rw`: one writer's late-arrival loop on a catalog that is
  * read while it changes. A bulk initial ingest leaves every tenth
  * granule out; each step then upserts one day's delta (the day's
  * granules again plus its late ones), PUTs one new item and DELETEs one
  * old one over HTTP, and runs live searches that must see all three.
  * One step re-upserts its delta, which must change nothing. Then a
  * new day streams in as small micro-batch files, and a compaction
  * folds them back into one file. */
object CatalogRw {
  /** Catalog span: six days of the grid. The last day is kept for the
    * warm-up step. */
  val Days = 6
  val Slots: Long = Days.toLong * Grid.PerDay
  /** The day after the catalog span, which streams in at the end. */
  val StreamDay: Int = Days
  /** Micro-batch files the stream day lands in. */
  val MicroBatches = 8
  /** Late-arrival steps per ten seconds of `--seconds`. */
  val StepsPer10s = 3
  /** Rounds of the five live reads after each step's writes. */
  val ReadRounds = 2
  private val C = Grid.Collection

  /** Items a day's slots hold once its delta has landed, or before. */
  private def dayItems(day: Int, landed: Boolean): Seq[Grid.Item] =
    (day * Grid.PerDay until (day + 1) * Grid.PerDay)
      .filter(k => landed || !Grid.late(k.toLong)).map(k => Grid.item(k.toLong))

  /** A PUT item: a granule-sized box inside `day`, off the slot grid. */
  private final case class Put(it: Grid.Item) {
    def body: String = {
      val g = Grid.polygon(it.w, it.s, it.e, it.n)
      s"""{"type":"Feature","id":"${it.id}","geometry":$g,""" +
        s""""bbox":[${it.w},${it.s},${it.e},${it.n}],""" +
        s""""properties":{"datetime":"${Grid.isoOf(it.start)}"},"assets":{},"links":[]}"""
    }
  }

  /** Parquet files under the catalog: path → bytes. */
  private def files(path: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !root.relativize(p).iterator().asScala.exists(_.toString.startsWith(".")))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Bytes in files that `f` created under the catalog. */
  private def bytesWritten[T](path: String)(f: => T): (T, Long) = {
    val before = files(path)
    val r = f
    (r, files(path).collect { case (p, b) if !before.contains(p) => b }.sum)
  }

  final class State(val path: String) {
    /** Live items by id: what every search must see. */
    val live = scala.collection.mutable.Map.empty[String, Grid.Item]
    /** Bytes each upsert wrote per byte of its delta. */
    val writeAmp = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** Bytes each PUT or DELETE wrote. */
    val txBytes = scala.collection.mutable.ArrayBuffer.empty[Double]
  }

  def run(spark: SparkSession, st: Settings, trace: Trace,
      probe: Option[SparkProbe], setupStart: Double): Outcome = {
    val state = new State(st.work.resolve("catalog").toString)
    val i0 = System.nanoTime()
    val ingest = trace.op("setup", -1)(trace.span("ingest.pipeline") {
      IngestPipeline.run(spark, new Grid.Source(0, Slots, onTime = true), state.path,
        initial = true)
    })
    val ingestS = (System.nanoTime() - i0) / 1e9
    (0 until Days).foreach(d => dayItems(d, landed = false).foreach(it => state.live(it.id) = it))
    val ops = new Ops
    ops.check(ingest.itemsIngested == state.live.size && ingest.catalogSize == state.live.size &&
      ingest.castErrors == 0, s"initial ingest: $ingest, want ${state.live.size} items")
    val server = StacApiServer.live(spark, state.path)
    val base = server.start()
    try {
      val rng = new SplittableRandom(st.seed)
      val client = new Stac.Client(base)
      val warmOps = new Ops
      val w0 = System.nanoTime()
      step(spark, state, client, Days - 1, rng, warmOps, new Trace(false), 1, reupsert = false)
      val warmS = (System.nanoTime() - w0) / 1e9
      warmOps.failed.foreach(f => ops.fail("warm-up " + f))
      val setupS = setupStart + ingestS + warmS

      val steps = math.max(2, st.seconds * StepsPer10s / 10)
      val days = new scala.util.Random(rng.nextLong()).shuffle((0 until Days - 1).toList)
        .take(steps)
      val phase = new Phase
      val from = trace.nowMs
      days.zipWithIndex.foreach { case (d, i) =>
        step(spark, state, client, d, rng, ops, trace, ReadRounds, reupsert = i == steps - 1)
      }
      stream(spark, state, client, ops, trace)
      val filesLive = files(state.path).size
      val ((examined, compacted), compactBytes) = bytesWritten(state.path) {
        trace.op("compact", StreamDay * 100L + 99)(ops.timed("compact") {
          trace.span("catalog.compact")(CatalogMaintenance.compact(spark, state.path))
        }.getOrElse((0, 0)))
      }
      val filesCompacted = files(state.path).size
      ops.check(compacted == 1 && compactBytes > 0 && filesCompacted == 1,
        s"compaction: $compacted of $examined leaves compacted, $compactBytes bytes " +
          s"written, $filesLive files before and $filesCompacted after, want 1 leaf and 1 file")
      phase.stop()
      val until = trace.nowMs
      val heap = Stats.retainedHeapMb()
      val n = CatalogStore.read(spark, state.path).count()
      ops.check(n == state.live.size, s"final count $n, want ${state.live.size}")
      val catalogBytes = files(state.path).values.sum
      val (e2e, info) = Outcome.endToEnd(ops, _.startsWith("live_"), phase, setupS, heap)
      val layers = probe.map { p =>
        val nOps = ops.latencies.size
        Layers.fromProbe(spark, p, trace, from, until, "", nOps) ++
          ingestLayers(spark, st, trace) ++ Map(
            "catalog.upsert_ms" -> Layers.meanMs(trace, "catalog.upsert"),
            "catalog.upsert_write_amp" -> Layers.mean(state.writeAmp.toSeq),
            "catalog.tx_bytes_written" -> Layers.mean(state.txBytes.toSeq),
            "catalog.read_list_ms" -> Layers.meanMs(trace, "catalog.read_list"),
            "catalog.files_live" -> filesLive.toDouble,
            "catalog.compact_ms" -> Layers.meanMs(trace, "catalog.compact"),
            "catalog.compact_bytes" -> compactBytes.toDouble,
            "catalog.bytes_per_item" -> catalogBytes.toDouble / n)
      }.getOrElse(Map.empty)
      Outcome(ops.latencies.size, ops.failed, e2e, layers,
        info ++ Map("setup_ingest_s" -> ingestS, "warmup_s" -> warmS,
          "days" -> days, "items" -> n, "bytes_per_item" -> catalogBytes.toDouble / n,
          "compaction" -> Map("leaves" -> examined, "compacted" -> compacted,
            "files_before" -> filesLive, "files_after" -> filesCompacted,
            "bytes_written" -> compactBytes)))
    } finally server.stop()
  }

  /** One late-arrival step on `day`. */
  private def step(spark: SparkSession, state: State, client: Stac.Client,
      day: Int, rng: SplittableRandom, ops: Ops, trace: Trace,
      rounds: Int, reupsert: Boolean): Unit = {
    val lo = day.toLong * Grid.PerDay
    val delta = new Grid.Source(lo, lo + Grid.PerDay, onTime = false)
    val opBase = day * 100L
    def upsert(kind: String): Unit = trace.op(kind, opBase + (if (kind == "upsert") 1 else 9)) {
      // the delta's bytes at the catalog's bytes per item
      val deltaBytes = files(state.path).values.sum.toDouble / state.live.size * Grid.PerDay
      val ((res, ms), written) = bytesWritten(state.path) {
        val t0 = System.nanoTime()
        val r = trace.span("catalog.upsert")(IngestPipeline.run(spark, delta, state.path))
        (r, (System.nanoTime() - t0) / 1e6)
      }
      ops.record(kind, ms)
      state.writeAmp += written / deltaBytes
      dayItems(day, landed = true).foreach(it => state.live(it.id) = it)
      ops.check(res.itemsIngested == Grid.PerDay && res.castErrors == 0 &&
        res.catalogSize == state.live.size,
        s"$kind day $day: $res, want ${Grid.PerDay} ingested, ${state.live.size} in catalog")
    }
    upsert("upsert")

    // one new item inside the day, off the slot grid
    val sec = Grid.dayStart(day) + 60 + rng.nextInt(86000)
    val w = -80 + rng.nextInt(150) + 0.25
    val s = -60 + rng.nextInt(100) + 0.25
    val put = Put(Grid.Item(s"tx-${rng.nextInt(1 << 30)}", sec, sec, w, s, w + 5, s + 5))
    trace.op("put", opBase + 2) {
      val (r, b) = bytesWritten(state.path)(trace.span("http.request")(
        client.send("PUT", s"/collections/$C/items/${put.it.id}", put.body)))
      state.txBytes += b.toDouble
      ops.record("put", r.ms)
      ops.check(r.status == 201, s"PUT ${put.it.id}: ${r.status} ${r.body.take(200)}")
      state.live(put.it.id) = put.it
    }
    // delete an on-time granule of another day
    val gone = {
      var it: Grid.Item = null
      while (it == null || !state.live.contains(it.id) || it.start / 86400 == sec / 86400)
        it = Grid.item(rng.nextLong(Slots))
      it
    }
    trace.op("delete", opBase + 3) {
      val (r, b) = bytesWritten(state.path)(trace.span("http.request")(
        client.send("DELETE", s"/collections/$C/items/${gone.id}")))
      state.txBytes += b.toDouble
      ops.record("delete", r.ms)
      ops.check(r.status == 204, s"DELETE ${gone.id}: ${r.status} ${r.body.take(200)}")
      state.live.remove(gone.id)
    }

    // live searches that must see the delta, the PUT and the DELETE
    val t0 = Grid.dayStart(day)
    val t1 = t0 + 86400 - 1
    val today = state.live.values.filter(_.during(t0, t1))
    val iso = s"${Grid.isoOf(t0)}/${Grid.isoOf(t1)}"
    val byId = (id: String) => state.live.get(id)
    def reads(): Seq[Stac.Req] = {
      val (bw, bs) = (-90 + rng.nextInt(100) + 0.5, -60 + rng.nextInt(60) + 0.5)
      val (be, bn) = (bw + 60, bs + 40)
      Seq(
        Stac.Req("live_count", "GET", "/aggregations?" + Grid.query(
          "collections" -> C, "datetime" -> iso), "", None, Stac.Total(today.size.toLong)),
        Stac.Req("live_put_item", "GET", s"/collections/$C/items/${put.it.id}", "", None,
          Stac.One(put.it.id)),
        Stac.Req("live_deleted_item", "GET", s"/collections/$C/items/${gone.id}", "", None,
          Stac.Absent(gone.id)),
        Stac.Req("live_bbox", "GET", "/search?" + Grid.query("collections" -> C,
          "bbox" -> s"$bw,$bs,$be,$bn", "datetime" -> iso, "sortby" -> "+start_datetime",
          "limit" -> "50"), "", None,
          Stac.Features(Stac.ordered(today, _.overlaps(bw, bs, be, bn), Some(true)), 50, 1)),
        Stac.Req("live_walk", "GET", "/search?" + Grid.query("collections" -> C,
          "datetime" -> iso, "sortby" -> "-start_datetime", "limit" -> "100"), "", None,
          Stac.Features(Stac.ordered(today, _ => true, Some(false)), 100, 2)))
    }
    val rs = (1 to rounds).flatMap(_ => reads())
    rs.zipWithIndex.foreach { case (r, i) =>
      trace.op("read", opBase + 10 + i) {
        if (trace.on) trace.span("catalog.read_list")(CatalogStore.read(spark, state.path))
        val (got, ms) = trace.span("http.request")(client.run(r))
        ops.record(r.kind, ms)
        Stac.verify(r, got, byId).foreach(ops.fail)
      }
    }
    if (reupsert) {
      val count = state.live.size
      upsert("reupsert")
      ops.check(state.live.size == count, "re-upsert changed the live set")
      val (again, ms) = client.run(rs(3))
      ops.record(rs(3).kind, ms)
      Stac.verify(rs(3), again, byId).foreach(f => ops.fail("after re-upsert: " + f))
    }
  }

  /** The stream day's granules land as `MicroBatches` files appended to
    * the catalog's leaf, as a streaming file sink's micro-batches do (the
    * engine's own writers rewrite the leaf instead); a live count must
    * then see every item of the day. */
  private def stream(spark: SparkSession, state: State, client: Stac.Client,
      ops: Ops, trace: Trace): Unit = {
    val per = Grid.PerDay / MicroBatches
    val opBase = StreamDay * 100L
    (0 until MicroBatches).foreach { b =>
      val lo = StreamDay.toLong * Grid.PerDay + b * per
      trace.op("land", opBase + b) {
        ops.timed("land") {
          trace.span("catalog.land") {
            ItemAssembly.assemble(Grid.rows(spark, lo, lo + per))._1.coalesce(1)
              .write.mode("append").partitionBy("collection_id").parquet(state.path)
          }
        }
      }
      (lo until lo + per).foreach { k => val it = Grid.item(k); state.live(it.id) = it }
    }
    val t0 = Grid.dayStart(StreamDay)
    val t1 = t0 + 86400 - 1
    val r = Stac.Req("live_stream_count", "GET", "/aggregations?" + Grid.query(
      "collections" -> C, "datetime" -> s"${Grid.isoOf(t0)}/${Grid.isoOf(t1)}"), "", None,
      Stac.Total(state.live.values.count(_.during(t0, t1)).toLong))
    trace.op("read", opBase + MicroBatches) {
      val (got, ms) = trace.span("http.request")(client.run(r))
      ops.record(r.kind, ms)
      Stac.verify(r, got, state.live.get).foreach(ops.fail)
    }
  }

  /** The initial ingest split into its layers, traced run only: source
    * rows, item assembly and the catalog write, each materialized. */
  private def ingestLayers(spark: SparkSession, st: Settings,
      trace: Trace): Map[String, Double] = {
    val path = st.work.resolve("catalog-layers").toString
    trace.op("ingest_layers", 0) {
      val rows = trace.span("ingest.source")(
        new Grid.Source(0, Slots, onTime = true).granules(spark).localCheckpoint())
      val items = trace.span("catalog.assemble")(ItemAssembly.assemble(rows)._1.localCheckpoint())
      trace.span("catalog.write")(CatalogStore.write(items, path))
    }
    Map("ingest.source_ms" -> Layers.meanMs(trace, "ingest.source"),
      "catalog.assemble_ms" -> Layers.meanMs(trace, "catalog.assemble"),
      "catalog.write_ms" -> Layers.meanMs(trace, "catalog.write"))
  }
}
