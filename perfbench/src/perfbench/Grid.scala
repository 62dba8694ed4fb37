package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.GranuleSource

/** The AVHRR 3-minute granule grid as arithmetic: what
  * `graft.ingest.v2.GranuleGridSource` generates for each slot, so the
  * benchmark knows every item a search must return without asking the
  * engine. Slot k of the grid starts `Start + 180 k` seconds. */
object Grid {
  val Collection = "AVHRR_SST_METOP_B-OSISAF-L2P-v1.0"
  val Start: Long = Instant.parse("2022-01-01T00:01:03Z").getEpochSecond
  val StepS = 180L
  val PerDay = 480

  private val stamp = DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
    .withZone(ZoneOffset.UTC)
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  def isoOf(sec: Long): String = iso.format(Instant.ofEpochSecond(sec))
  def secOf(slot: Long): Long = Start + slot * StepS
  def dayStart(day: Int): Long = Start - 63 + day * 86400L // midnight

  final case class Item(id: String, start: Long, end: Long,
      w: Double, s: Double, e: Double, n: Double) {
    def overlaps(qw: Double, qs: Double, qe: Double, qn: Double): Boolean =
      w <= qe && qw <= e && s <= qn && qs <= n
    def during(t0: Long, t1: Long): Boolean = start <= t1 && t0 <= end
  }

  /** The item slot k becomes (mirrors GranuleSliceReader.get). */
  def item(slot: Long): Item = {
    val sec = secOf(slot)
    var h = sec + 0x9e3779b97f4a7c15L
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^= (h >>> 31)
    val w = math.floorMod(h, 170L) - 85
    val s = math.floorMod(h >>> 13, 120L) - 60
    Item("granule-" + stamp.format(Instant.ofEpochSecond(sec)), sec,
      sec + StepS, w.toDouble, s.toDouble, (w + 10).toDouble, (s + 8).toDouble)
  }

  /** Slots whose interval meets [t0, t1], within the first `slots`. */
  def slotsDuring(t0: Long, t1: Long, slots: Long): Range.Inclusive = {
    val lo = math.max(0L, Math.floorDiv(t0 - StepS - Start + StepS - 1, StepS))
    val hi = math.min(slots - 1, Math.floorDiv(t1 - Start, StepS))
    (lo.toInt to hi.toInt)
  }

  /** Grid rows for slots [from, until) through the engine's DataSource V2
    * reader — the FIXTURES.md B1 granule_meta schema plus `ts`. */
  def rows(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.read.format("graft.ingest.v2.GranuleGridSource")
      .option("start", isoOf(secOf(from)))
      .option("end", isoOf(secOf(until - 1)))
      .load()

  /** Slots whose files land late: every tenth slot of the grid. */
  val LateEvery = 10
  def late(slot: Long): Boolean = slot % LateEvery == LateEvery - 1

  /** A granule source over slots [from, until), without the late slots
    * when `onTime` (the first ingest sees only the files on time). */
  final class Source(from: Long, until: Long, onTime: Boolean)
      extends GranuleSource {
    override def granules(spark: SparkSession): DataFrame = {
      val df = rows(spark, from, until)
      if (!onTime) df
      else df.filter(
        ((col("ts").cast("long") - Start) / StepS).cast("long") % LateEvery =!= LateEvery - 1)
    }
  }

  def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  def query(params: (String, String)*): String =
    params.map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&")

  /** GeoJSON rectangle. */
  def polygon(w: Double, s: Double, e: Double, n: Double): String =
    s"""{"type":"Polygon","coordinates":[[[$w,$s],[$e,$s],[$e,$n],[$w,$n],[$w,$s]]]}"""
}
