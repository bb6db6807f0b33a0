package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** The distributed fetch stage against a local in-process HTTP stub:
  * outcome rows, the end-to-end ingest path (ok/bad channel counts), and
  * the per-partition rate limit. */
class HttpSourceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def payload(cityId: Long, name: String, dt: Long, temp: Double): String =
    s"""{"coord":{"lon":105.8,"lat":21.0},
       |"weather":[{"id":802,"main":"Clouds","description":"d","icon":"03d"}],
       |"main":{"temp":$temp,"feels_like":$temp,"temp_min":$temp,"temp_max":$temp,"pressure":1021,"humidity":37},
       |"wind":{"speed":4.0,"deg":355},"clouds":{"all":34},"dt":$dt,
       |"sys":{"country":"VN","sunrise":1764112440,"sunset":1764152047},
       |"timezone":25200,"id":$cityId,"name":"$name","cod":200}""".stripMargin.replace("\n", "")

  private val hits = new ConcurrentLinkedQueue[(String, Long)]()

  private def respond(x: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.sendResponseHeaders(status, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  /** Stub: /city/<id> → 200 payload; /missing → 404 OpenWeather error
    * envelope; anything else → 500. Records (path, arrival-nanos). */
  private lazy val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", (x: HttpExchange) => {
      val path = x.getRequestURI.getPath
      hits.add((path, System.nanoTime()))
      path match {
        case p if p.startsWith("/city/") =>
          val id = p.stripPrefix("/city/").toLong
          respond(x, 200, payload(id, s"City$id", 1764129600 + id * 60, 20.0 + id))
        case "/missing" =>
          respond(x, 404, """{"cod":"404","message":"city not found"}""")
        case "/empty200" => respond(x, 200, "") // truncated-success case
        case _ => respond(x, 500, "boom")
      }
    })
    s.setExecutor(null)
    s.start()
    s
  }
  private lazy val base = s"http://127.0.0.1:${server.getAddress.getPort}"

  test("fetch returns every outcome as a row: 200, 404, 500, network error") {
    import spark.implicits._
    val urls = Seq(s"$base/city/1", s"$base/missing", s"$base/oops",
      "http://127.0.0.1:1/unreachable") // closed port → connect failure
    val got = Http.fetch(urls.toDS(), partitions = 2)
      .collect().map(f => f.url -> f).toMap
    assert(got(s"$base/city/1").status === 200)
    assert(got(s"$base/city/1").body.contains("\"cod\":200"))
    assert(got(s"$base/missing").status === 404)
    assert(got(s"$base/missing").body.contains("city not found"))
    assert(got(s"$base/oops").status === 500)
    val dead = got("http://127.0.0.1:1/unreachable")
    assert(dead.status === -1 && dead.error != null)
  }

  test("ingest end-to-end through HttpSource: ok and bad channels counted") {
    val baseDir = java.nio.file.Files.createTempDirectory("graft_http").toString
    val source = Http.HttpSource(Seq(
      s"$base/city/1", s"$base/city/2", s"$base/missing",
      "http://127.0.0.1:1/unreachable"), partitions = 2)
    val r = graft.weather.Ingest.run(spark, source,
      s"$baseDir/cities", s"$baseDir/fact")
    assert(r.okCount === 2)
    assert(r.badCount === 2) // 404 envelope + network-error envelope
    assert(r.cities.count() === 2 && r.fact.count() === 2)
    assert(r.cities.select("city_name").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet === Set("City1", "City2"))
  }

  test("Ingest.run fetches each URL exactly once") {
    val baseDir = java.nio.file.Files.createTempDirectory("graft_http_once").toString
    val paths = Seq("/city/11", "/city/12", "/missing")
    hits.clear()
    val r = graft.weather.Ingest.run(spark,
      Http.HttpSource(paths.map(p => s"$base$p"), partitions = 2),
      s"$baseDir/cities", s"$baseDir/fact")
    assert(r.okCount === 2 && r.badCount === 1 && r.bad.count() === 1)
    assert(r.fact.count() === 2)
    import scala.jdk.CollectionConverters._
    val perPath = hits.asScala.toSeq.groupBy(_._1).map { case (p, hs) => p -> hs.size }
    assert(perPath === paths.map(_ -> 1).toMap)
  }

  test("a 200 with an empty body lands in the bad channel, never the fact") {
    val baseDir = java.nio.file.Files.createTempDirectory("graft_empty200").toString
    val r = graft.weather.Ingest.run(spark,
      Http.HttpSource(Seq(s"$base/city/1", s"$base/empty200"), partitions = 1),
      s"$baseDir/cities", s"$baseDir/fact")
    assert(r.okCount === 1 && r.badCount === 1)
    assert(r.fact.count() === 1) // no null-keyed row merged
  }

  test("error envelope stays valid JSON when the failure message has control chars") {
    val gnarly = "line one\nline two\ttab bell \"quoted\" back\\slash"
    val escaped = Http.jsonEscape(gnarly)
    val envelope = s"""{"cod":"-1","message":"$escaped"}"""
    // the envelope must round-trip through the same parser the status
    // gate uses — a parse failure here loses cod/message in quarantine
    import spark.implicits._
    val parsed = Seq(envelope).toDF("payload")
      .select(from_json(col("payload"), lit("cod STRING, message STRING")).as("j"))
      .select("j.cod", "j.message")
      .collect()(0)
    assert(parsed.getString(0) === "-1")
    assert(parsed.getString(1) === gnarly)
  }

  test("delayMs spaces requests within a partition (ST4 rate limit)") {
    import spark.implicits._
    hits.clear()
    val urls = (1 to 4).map(i => s"$base/city/$i")
    val t0 = System.nanoTime()
    Http.fetch(urls.toDS(), partitions = 1, delayMs = 100).collect()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    // 4 requests, 1 partition → 3 inter-request sleeps ≥ 300 ms total
    assert(elapsedMs >= 300)
    assert(hits.size === 4)
  }
}
