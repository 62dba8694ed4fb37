package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.MemoBuilds

/** `qid_suite`: the declared operator surface, `SparkEntry.queries`, over
  * the fixture tables, one qid at a time in a fixed order, each result
  * collected in full and checked against a pinned fingerprint. */
object QidSuite {
  /** The suite: one qid per family, each among the family's cheapest at
    * sf0.001 in graft.Bench — the fixed-cost floor ROADMAP item 2
    * targets; in a fresh JVM emb_kmeans absorbs a memoized build. A
    * second text qid, text_mixture_card, holds the suite's one window
    * over an empty partition spec (one partition, a global window). The
    * graph and insitu families are left out: their cheapest qids take
    * 2-6 s in a fresh JVM. The rest of SparkEntry.queries does not fit a
    * run: one pass over all of it takes minutes in a fresh JVM, the heavy
    * qids (curation_*, dedup_keep_central, sim_ann_ivf_pq) take 6-12 s
    * each there, and the qids that time a fixture graft.Bench stages
    * (index roots, catalogs) need about a minute of staging. */
  val Suite: Seq[String] = Seq(
    "agg_bbox_union", "catalog_search_core", "curation_domain_stats",
    "dedup_decontaminate", "emb_kmeans", "fn_array_append",
    "join_anti_missing", "multimodal_decode_audit",
    "pipeline_split_leakage", "q18_large_orders", "sample_cluster_balanced",
    "set_except", "sim_ann_lsh", "snk_listing_cache", "sort_limit_page",
    "src_csv", "text_bm25", "text_mixture_card", "topk_global", "ts_ewma",
    "warc_cdx", "win_anomaly")

  /** Untimed warm-up before the suite: graft.Bench's q1_pricing, then a
    * second cheap qid from most families, none sharing a memoized build
    * with the suite, so JIT compilation is largely done before timing
    * while every build a suite qid triggers stays inside its time. */
  val WarmUp: Seq[String] = Seq("q1_pricing", "agg_collect",
    "curation_robots_filter", "dedup_exact", "fn_array_lit4",
    "join_asof_nearest", "multimodal_dedup", "sample_epoch_shuffle",
    "set_except_all", "sort_listing", "src_drop_missing", "win_dedup_rank")

  /** A qid's family: its prefix, with the TPC-H style q1/q3/q5/q18 as `q`. */
  def family(qid: String): String = {
    val p = qid.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else p
  }

  /** The session `graft.Bench` times the suite with. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Row count and a hash of the result as rows of canonical strings:
    * columns by name, rows sorted, floats to nine significant digits. */
  def fingerprint(rows: Array[Row], schema: StructType): (Long, String) = {
    def canon(v: Any): String = v match {
      case null => "NULL"
      case d: Double =>
        if (d.isNaN) "NaN" else if (d == 0) "0" else "%.9g".formatLocal(java.util.Locale.ROOT, d)
      case f: Float => canon(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    val cols = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => cols.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }

  def run(spark: SparkSession, st: Settings, trace: Trace,
      probe: Option[SparkProbe], setupStart: Double): Outcome = {
    val dir = st.root.resolve("perfbench/data/sf0.001").toString
    val queries = SparkEntry.queries
    val qids = Suite.sorted
    val pins = Pins.load(st.root.resolve("perfbench/pins/qid_suite.json"))
    val w0 = System.nanoTime()
    WarmUp.foreach(q => queries(q)(spark, dir).collect())
    val setupS = setupStart + (System.nanoTime() - w0) / 1e9

    val ops = new Ops
    val results = Seq.newBuilder[(String, Double, Seq[String], Option[(Long, String)])]
    val phase = new Phase
    val from = trace.nowMs
    qids.zipWithIndex.foreach { case (q, i) =>
      val b0 = MemoBuilds.count
      val s0 = System.nanoTime()
      val got = trace.op(q, i.toLong + 1)(ops.timed(q) {
        val df = queries(q)(spark, dir)
        (df.collect(), df.schema)
      })
      val s = (System.nanoTime() - s0) / 1e9
      results += ((q, s, MemoBuilds.labelsSince(b0), got.map { case (rows, schema) =>
        fingerprint(rows, schema) }))
    }
    phase.stop()
    val until = trace.nowMs
    val heap = Stats.retainedHeapMb()
    val res = results.result()
    res.foreach { case (q, _, _, fp) =>
      fp.foreach(got => pins.get(q) match {
        case Some(want) => ops.check(got == want, s"$q: fingerprint $got, pinned $want")
        case None => ops.fail(s"$q: no pinned fingerprint")
      })
    }
    val (e2e, info) = Outcome.endToEnd(ops, _ => true, phase, setupS, heap)
    val layers = probe.map { p =>
      Layers.fromProbe(spark, p, trace, from, until, "", qids.size) ++
        res.groupBy(r => family(r._1)).map { case (f, rs) => s"ops.${f}_s" -> rs.map(_._2).sum } ++
        Map(
          "memo.builds" -> res.map(_._3.size).sum.toDouble,
          "memo.absorbing_s" -> res.filter(_._3.nonEmpty).map(_._2).sum)
    }.getOrElse(Map.empty)
    Outcome(qids.size, ops.failed, e2e, layers, info ++ Map(
      "warmup_s" -> (setupS - setupStart),
      "qids" -> res.map { case (q, s, b, fp) =>
        Map("qid" -> q, "s" -> s, "builds" -> b,
          "rows" -> fp.map(_._1), "fingerprint" -> fp.map(_._2))
      }))
  }
}

/** Pinned per-qid (rows, fingerprint) pairs. */
object Pins {
  def load(path: java.nio.file.Path): Map[String, (Long, String)] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Json.read(java.nio.file.Files.readString(path)).fields().asScala.map { e =>
        e.getKey -> ((e.getValue.path("rows").asLong(), e.getValue.path("fingerprint").asText()))
      }.toMap
    }
}
