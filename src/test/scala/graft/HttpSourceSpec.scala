package graft

import java.net.InetSocketAddress
import java.security.MessageDigest

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions.col

import graft.ingest.HttpSource

/** Authed HTTP open (reference `storage_kwargs`): a local JDK server
  * enforcing a bearer token proves headers reach every executor-side
  * request, bodies hash correctly, and failures degrade to status
  * rows instead of task failures. */
class HttpSourceSpec extends SparkSpec {

  private val TOKEN = "Bearer graft-test-token"

  private def withServer[A](f: Int => A): A = {
    // the JDK reads its TCP_NODELAY switch once per JVM, at the first
    // HttpServer.create: take the STAC server's setting, which
    // StacApiSpec's latency case checks in this same test JVM
    graft.catalog.StacApiServer.preferNoDelay()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val body: Array[Byte] = ("granule payload " * 100).getBytes("UTF-8")
    server.createContext("/data/", (ex: HttpExchange) => {
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      if (auth != TOKEN) {
        ex.sendResponseHeaders(401, -1)
        ex.close()
      } else if (ex.getRequestURI.getPath.endsWith("missing.nc")) {
        ex.sendResponseHeaders(404, -1)
        ex.close()
      } else {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.start()
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  private def expectedSha: String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(("granule payload " * 100).getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  test("authed fetch succeeds distributedly; bad auth and 404 degrade to status rows") {
    withServer { port =>
      import spark.implicits._
      val urls = (1 to 8).map(i => s"http://127.0.0.1:$port/data/g$i.nc")
        .toDF("url").repartition(4)
      val ok = HttpSource.openUrls(spark, urls,
        Map("Authorization" -> TOKEN)).collect()
      assert(ok.length == 8)
      assert(ok.forall(_.getInt(1) == 200))
      assert(ok.forall(_.getLong(2) == ("granule payload " * 100).length.toLong))
      assert(ok.forall(_.getString(3) == expectedSha), "content hash mismatch")

      // no auth header: every row comes back 401, no task failure
      val denied = HttpSource.openUrls(spark, urls, Map.empty).collect()
      assert(denied.forall(_.getInt(1) == 401))
      assert(denied.forall(_.getString(3) == ""))

      // mixed batch: one 404, one unroutable host — both become rows
      val mixed = Seq(
        s"http://127.0.0.1:$port/data/good.nc",
        s"http://127.0.0.1:$port/data/missing.nc",
        "http://127.0.0.1:1/nope").toDF("url")
      val got = HttpSource.openUrls(spark, mixed,
        Map("Authorization" -> TOKEN), connectTimeoutMs = 500)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(got(s"http://127.0.0.1:$port/data/good.nc") == 200)
      assert(got(s"http://127.0.0.1:$port/data/missing.nc") == 404)
      assert(got("http://127.0.0.1:1/nope") == -1)
    }
  }

  test("maxBytes caps the drained body") {
    withServer { port =>
      import spark.implicits._
      val urls = Seq(s"http://127.0.0.1:$port/data/g.nc").toDF("url")
      val row = HttpSource.openUrls(spark, urls,
        Map("Authorization" -> TOKEN), maxBytes = 1000L).collect().head
      assert(row.getInt(1) == 200)
      // the clamp hashes and counts EXACTLY maxBytes of a larger
      // body: the count is 1000, not wherever the 64 KiB read landed,
      // and the digest is the digest of precisely those first bytes
      assert(row.getLong(2) == 1000L)
      val full = HttpSource.openUrls(spark, urls,
        Map("Authorization" -> TOKEN)).collect().head
      assert(full.getLong(2) > 1000L, "fixture body must exceed the cap")
      assert(row.getString(3) != full.getString(3),
        "truncated digest must differ from the full-body digest")
      assert(row.getString(3).length == 64)
    }
  }
}
