package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import graft.catalog.CatalogQuery

/** STAC API requests, their expected answers, and the checks that
  * compare the two. */
object Stac {

  /** What a request must return. */
  sealed trait Expect
  /** Exactly `ids`, in order, over pages of at most `limit` features,
    * following next links for at most `pages` pages. */
  final case class Features(ids: Seq[String], limit: Int, pages: Int)
      extends Expect
  final case class One(id: String) extends Expect
  final case class Absent(id: String) extends Expect
  final case class Total(n: Long) extends Expect

  /** One request: its HTTP form, the same search as the engine's
    * `CatalogQuery.Search` (for the in-process replay; None where the
    * server does more than a search), and its expected answer. */
  final case class Req(kind: String, method: String, target: String,
      body: String, search: Option[CatalogQuery.Search], expect: Expect) {
    /** HTTP requests it takes: a page walk follows next links. */
    def requests: Int = expect match {
      case Features(ids, limit, pages) => math.min(pages, ids.size / limit + 1)
      case _ => 1
    }
  }

  final case class Resp(status: Int, body: String, ms: Double)

  /** A blocking HTTP/1.1 client, one per caller thread. */
  final class Client(base: String) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

    def send(method: String, target: String, body: String = ""): Resp = {
      val b = HttpRequest.newBuilder(URI.create(base + target))
        .timeout(Duration.ofSeconds(60))
      val req = method match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case m => b.header("Content-Type", "application/json")
          .method(m, HttpRequest.BodyPublishers.ofString(body))
      }
      val t0 = System.nanoTime()
      val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
      Resp(r.statusCode, r.body, (System.nanoTime() - t0) / 1e6)
    }

    /** The request and, for a page walk, the pages its next links lead
      * to, with the time the whole operation took in ms: a caller walking
      * pages waits for all of them. */
    def run(r: Req): (Seq[Resp], Double) = {
      val t0 = System.nanoTime()
      var out = Vector(send(r.method, r.target, r.body))
      var next = nextHref(out.last)
      while (next.isDefined && out.size < pagesOf(r)) {
        out :+= send("GET", next.get)
        next = nextHref(out.last)
      }
      (out, (System.nanoTime() - t0) / 1e6)
    }
  }

  private def pagesOf(r: Req): Int = r.expect match {
    case Features(_, _, pages) => pages
    case _ => 1
  }

  private def nextHref(r: Resp): Option[String] =
    if (r.status != 200) None
    else Option(Json.read(r.body).get("links")).toSeq
      .flatMap(_.elements().asScala)
      .find(l => l.path("rel").asText() == "next")
      .map(_.path("href").asText())

  /** Items matching `keep`, in the search order: start time ascending
    * or descending, then item id. */
  def ordered(items: Iterable[Grid.Item], keep: Grid.Item => Boolean,
      byStart: Option[Boolean]): Seq[String] = {
    val hit = items.filter(keep).toSeq
    (byStart match {
      case None => hit.sortBy(_.id)
      case Some(true) => hit.sortBy(i => (i.start, i.id))
      case Some(false) => hit.sortBy(i => (-i.start, i.id))
    }).map(_.id)
  }

  /** Why the responses to `r` are wrong, if they are. `byId` gives the
    * item each id must describe. */
  def verify(r: Req, rs: Seq[Resp],
      byId: String => Option[Grid.Item]): Option[String] = {
    def bad(msg: String) = Some(s"${r.kind} ${r.method} ${r.target.take(160)}: $msg")
    def bboxOk(f: com.fasterxml.jackson.databind.JsonNode): Boolean =
      byId(f.path("id").asText()).forall { it =>
        val b = f.path("bbox").elements().asScala.map(_.asDouble()).toSeq
        b == Seq(it.w, it.s, it.e, it.n)
      }
    r.expect match {
      case Absent(id) =>
        if (rs.head.status == 404) None else bad(s"status ${rs.head.status}, want 404 for $id")
      case _ if rs.exists(_.status != 200) =>
        bad(s"status ${rs.map(_.status).mkString(",")}: ${rs.last.body.take(200)}")
      case Total(n) =>
        val got = Json.read(rs.head.body).path("aggregations").elements().asScala
          .find(_.path("name").asText() == "total_count").map(_.path("value").asLong())
        if (got.contains(n)) None else bad(s"total_count $got, want $n")
      case One(id) =>
        val f = Json.read(rs.head.body)
        if (f.path("id").asText() != id) bad(s"id ${f.path("id").asText()}, want $id")
        else if (!bboxOk(f)) bad(s"bbox of $id")
        else None
      case Features(ids, limit, _) =>
        val pages = rs.map(p => Json.read(p.body).path("features").elements().asScala.toSeq)
        val got = pages.flatten
        val gotIds = got.map(_.path("id").asText())
        if (pages.exists(_.size > limit)) bad(s"a page holds more than $limit features")
        else if (rs.size != r.requests) bad(s"${rs.size} pages, want ${r.requests}")
        else if (gotIds.distinct.size != gotIds.size) bad("duplicate ids across pages")
        else if (gotIds != ids.take(got.size) || got.size != math.min(ids.size, limit * rs.size))
          bad(s"ids differ: got ${gotIds.size} [${gotIds.take(3).mkString(",")}…], " +
            s"want ${ids.size} [${ids.take(3).mkString(",")}…]")
        else if (!got.forall(bboxOk)) bad("a feature's bbox differs from its granule")
        else None
    }
  }
}
