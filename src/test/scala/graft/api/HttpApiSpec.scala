package graft.api

import java.io.{BufferedInputStream, ByteArrayOutputStream, IOException}
import java.net.{InetSocketAddress, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.store.InMemoryStore

/** End-to-end HTTP parity with the reference's Fiber app (main.go:73-97,
  * controllers/controllers.go:24-119): routes, status codes, error
  * precedence, cache-aside read, overlay update, pre-image delete.
  */
class HttpApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var t = 0
  private val clock = () => { t += 1; LocalDateTime.of(2026, 1, 1, 0, 0, t) }
  private val store = new InMemoryStore
  private val engine = new CdcEngine(store, clock)
  private val api = new HttpApi(engine).start()
  private val base = s"http://127.0.0.1:${api.boundPort}/api/v1/sinners"
  private val http = HttpClient.newHttpClient()

  override def afterAll(): Unit = api.stop()

  private def req(b: HttpRequest.Builder): HttpResponse[String] =
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  private def get(path: String) = req(HttpRequest.newBuilder(URI.create(base + path)).GET())
  private def post(path: String, body: String) =
    req(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)))
  private def put(path: String, body: String) =
    req(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .PUT(HttpRequest.BodyPublishers.ofString(body)))
  private def delete(path: String) =
    req(HttpRequest.newBuilder(URI.create(base + path)).DELETE())

  test("POST /create: 201 + row JSON; PK conflict 400; bad body 400") {
    val r = post("/create", """{"code":14,"name":"Faust","class":"A","libram":"L-14"}""")
    assert(r.statusCode() == 201)
    assert(r.body().contains(""""code":14""") && r.body().contains(""""name":"Faust""""))
    assert(r.body().contains(""""tendency":null"""))          // absent nullable => null
    assert(post("/create", """{"code":14,"name":"dup","class":"B"}""").statusCode() == 400)
    assert(post("/create", """{"code":15,""").statusCode() == 400)
    // unknown fields dropped (json.Unmarshal parity), nested values tolerated
    assert(post("/create",
      """{"code":15,"name":"Gregor","class":"B","extra":{"deep":[1,2]},"x":true}""").statusCode() == 201)
  }

  test("GET /read: 200 + JSON array of all rows") {
    val r = get("/read")
    assert(r.statusCode() == 200)
    assert(r.body().startsWith("[") && r.body().contains(""""code":14""") && r.body().contains(""""code":15"""))
  }

  test("GET /read/:code: 400 non-integer BEFORE lookup; 404 missing; 200 + cache fill") {
    assert(get("/read/abc").statusCode() == 400)
    assert(get("/read/999").statusCode() == 404)
    assert(get("/read/999").body() == "Not Found")
    val misses = store.size
    val r = get("/read/14")
    assert(r.statusCode() == 200 && r.body().contains(""""name":"Faust""""))
    assert(store.size == misses + 1)                          // cache-aside fill
    assert(get("/read/14").statusCode() == 200)               // served from cache
  }

  test("PUT /update/:code: 400 bad key, 404 missing row before body parse, overlay semantics") {
    assert(put("/update/abc", "{}").statusCode() == 400)
    assert(put("/update/999", "not json").statusCode() == 404) // row check precedes body parse
    assert(put("/update/14", "not json").statusCode() == 400)
    val r = put("/update/14", """{"tendency":"chaotic"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""name":"Faust""""))            // absent field kept (O-7)
    assert(r.body().contains(""""tendency":"chaotic""""))
  }

  test("DELETE /delete/:code: 400 bad key, 404 missing, 200 pre-image; CDC invalidates cache") {
    assert(delete("/delete/abc").statusCode() == 400)
    assert(delete("/delete/999").statusCode() == 404)
    val r = delete("/delete/15")
    assert(r.statusCode() == 200 && r.body().contains(""""name":"Gregor""""))
    assert(get("/read/15").statusCode() == 404)
  }

  test("unknown route: 404") {
    assert(get("/nope").statusCode() == 404)
    assert(post("/read", "{}").statusCode() == 404)            // wrong method for route
  }

  /** Sends `GET path` `n` times, one after another, over one keep-alive
    * socket written the way perfbench's client writes it (one flushed
    * write per request, TCP_NODELAY on); returns each round trip in ms.
    */
  private def keepAliveGets(port: Int, path: String, n: Int): Seq[Double] = {
    val sock = new Socket()
    try {
      sock.connect(new InetSocketAddress("127.0.0.1", port), 10000)
      sock.setSoTimeout(10000)
      sock.setTcpNoDelay(true)
      val in = new BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      def line(): String = {
        val b = new ByteArrayOutputStream
        var c = in.read()
        while (c != '\n') {
          if (c < 0) throw new IOException("connection closed")
          if (c != '\r') b.write(c)
          c = in.read()
        }
        b.toString(UTF_8)
      }
      val request = s"GET $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n\r\n".getBytes(UTF_8)
      (1 to n).map { _ =>
        val t0 = System.nanoTime()
        out.write(request)
        out.flush()
        assert(line().startsWith("HTTP/1.1 200"))
        var length = 0
        var h = line()
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:")) length = h.drop(15).trim.toInt
          h = line()
        }
        assert(in.readNBytes(length).length == length)
        (System.nanoTime() - t0) / 1e6
      }
    } finally sock.close()
  }

  test("sequential keep-alive GETs are not held back by Nagle's algorithm") {
    // With Nagle on at the server, each response body waits for the
    // client's delayed ACK of the headers, about 40 ms a request.
    engine.createOne(77, "Yi Sang", "A", None, None)
    val ms = keepAliveGets(api.boundPort, "/api/v1/sinners/read/77", 50).sorted
    assert(ms(ms.size / 2) < 20, s"median ${ms(ms.size / 2)} ms; all: ${ms.mkString(", ")}")
  }

  test("stop() ends the handler threads") {
    val other = new HttpApi(new CdcEngine(new InMemoryStore, clock)).start()
    val prefix = s"${HttpApi.ThreadPrefix}${other.boundPort}-"
    def handlers() = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(prefix))
    keepAliveGets(other.boundPort, "/api/v1/sinners/read", 1)
    val started = handlers()
    assert(started.nonEmpty)
    other.stop()
    started.foreach(_.join(1000))
    assert(handlers().isEmpty)
  }
}
