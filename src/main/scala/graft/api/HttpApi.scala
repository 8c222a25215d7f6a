package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The reference's HTTP surface (S-7), served over [[CdcEngine]] with the
  * JDK's built-in `com.sun.net.httpserver` — no framework dependency.
  *
  * Route table is the reference's exactly (main.go:73-97):
  * {{{
  *   POST   /api/v1/sinners/create        -> CreateOne
  *   GET    /api/v1/sinners/read          -> ReadAll
  *   GET    /api/v1/sinners/read/:code    -> ReadOne   (cache-aside)
  *   PUT    /api/v1/sinners/update/:code  -> UpdateOne (overlay)
  *   DELETE /api/v1/sinners/delete/:code  -> DeleteOne (pre-image)
  * }}}
  *
  * Status-code parity (controllers/controllers.go:24-119):
  * create: 201 on success, 400 on unparseable body or PK conflict;
  * read/:code: 400 non-integer key BEFORE lookup, 404 "Not Found", 200 hit;
  * update: 400 bad key, 404 missing row, 400 bad body, 200 updated row;
  * delete: 400 bad key, 404 missing row, 200 pre-image. Unknown JSON fields
  * are dropped (json.Unmarshal parity); absent update fields keep DB values
  * (the BodyParser-overlay, O-7).
  */
final class HttpApi(engine: CdcEngine, port: Int = 0) {

  private val server: HttpServer = HttpApi.newServer(port)
  server.createContext("/api/v1/sinners", new Routes)

  /** Bound port (useful when constructed with port=0 for tests). */
  def boundPort: Int = server.getAddress.getPort

  /** The request handlers' pool; its threads are named
    * `<HttpApi.ThreadPrefix><port>-<n>`. */
  private val pool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"${HttpApi.ThreadPrefix}$boundPort-${n.incrementAndGet()}"))
  }
  server.setExecutor(pool)

  def start(): HttpApi = { server.start(); this }

  /** Graceful stop, bounded like the reference's 5 s shutdown window
    * (main.go:60-68). Ends the handler pool too, whose threads would
    * otherwise keep the JVM alive. */
  def stop(): Unit = {
    server.stop(1)
    pool.shutdown()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }

  private final class Routes extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      catch { case e: Throwable => send(ex, 500, String.valueOf(e.getMessage)) }
      finally ex.close()

    private def route(ex: HttpExchange): Unit = {
      val method = ex.getRequestMethod
      // path below the context prefix: "", "/create", "/read", "/read/14", ...
      val sub = ex.getRequestURI.getPath.stripPrefix("/api/v1/sinners")
      (method, sub.split("/").toList.filter(_.nonEmpty)) match {
        case ("POST", "create" :: Nil)          => createOne(ex)
        case ("GET", "read" :: Nil)             => readAll(ex)
        case ("GET", "read" :: code :: Nil)     => readOne(ex, code)
        case ("PUT", "update" :: code :: Nil)   => updateOne(ex, code)
        case ("DELETE", "delete" :: code :: Nil)=> deleteOne(ex, code)
        case _                                  => send(ex, 404, "Cannot " + method + " " + ex.getRequestURI.getPath)
      }
    }

    private def body(ex: HttpExchange): String =
      new String(ex.getRequestBody.readAllBytes(), UTF_8)

    private def createOne(ex: HttpExchange): Unit =
      Json.parseObject(body(ex)) match {
        case None => send(ex, 400, "invalid JSON body")
        case Some(o) =>
          // BodyParser parity: missing fields are Go zero values — code=0,
          // strings "". GORM then inserts them as-is (NOT NULL columns get
          // ""); libram/tendency are nullable so absent => null here.
          val code = o.get("code").collect { case Json.JNum(n) => n.toLong }.getOrElse(0L)
          def str(k: String) = o.get(k).collect { case Json.JStr(s) => s }
          engine.createOne(code, str("name").getOrElse(""), str("class").getOrElse(""),
                           str("libram"), str("tendency")) match {
            case Right(s) => sendJson(ex, 201, engine.toJson(s))
            case Left(e)  => send(ex, e.status, "duplicate key or constraint violation")
          }
      }

    private def readAll(ex: HttpExchange): Unit =
      sendJson(ex, 200, engine.readAll().map(engine.toJson).mkString("[", ",", "]"))

    private def readOne(ex: HttpExchange, code: String): Unit =
      engine.readOneParam(code) match {
        case Right(s)        => sendJson(ex, 200, engine.toJson(s))
        case Left(NotFound)  => send(ex, 404, "Not Found")
        case Left(e)         => send(ex, e.status, "invalid key: " + code)
      }

    private def updateOne(ex: HttpExchange, code: String): Unit = {
      // Reference order (controllers.go:77-98): key parse 400, row lookup
      // 404, THEN body parse 400 — replicated so error precedence matches.
      code.toLongOption match {
        case None => send(ex, 400, "invalid key: " + code)
        case Some(k) =>
          if (!engine.exists(k)) send(ex, 404, "Not Found")
          else Json.parseObject(body(ex)) match {
            case None => send(ex, 400, "invalid JSON body")
            case Some(o) =>
              def str(kk: String) = o.get(kk).collect { case Json.JStr(s) => s }
              val patch = SinnerPatch(str("name"), str("class"), str("libram"), str("tendency"))
              engine.updateOne(k, patch) match {
                case Right(s) => sendJson(ex, 200, engine.toJson(s))
                case Left(e)  => send(ex, e.status, "Not Found")
              }
          }
      }
    }

    private def deleteOne(ex: HttpExchange, code: String): Unit =
      engine.deleteOneParam(code) match {
        case Right(s)        => sendJson(ex, 200, engine.toJson(s))
        case Left(NotFound)  => send(ex, 404, "Not Found")
        case Left(e)         => send(ex, e.status, "invalid key: " + code)
      }

    private def send(ex: HttpExchange, status: Int, text: String): Unit = {
      val b = text.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
      ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) ex.getResponseBody.write(b)
    }

    private def sendJson(ex: HttpExchange, status: Int, json: String): Unit = {
      val b = json.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, b.length)
      ex.getResponseBody.write(b)
    }
  }
}

object HttpApi {

  /** Name prefix of the handler threads. */
  val ThreadPrefix = "graft-http-"

  // The JDK server leaves Nagle's algorithm on unless this property is
  // true. `sendResponseHeaders` flushes the headers before the body is
  // written, so every response goes out as two writes, and the body
  // waits for the client's delayed ACK of the headers: ~40 ms on each
  // keep-alive request. `sun.net.httpserver.ServerConfig` reads the
  // property once, in its static initializer, so it is set here, before
  // the first `HttpServer.create`, and only when unset so that an
  // explicit JVM flag still wins. `RedisStore` sets TCP_NODELAY on its
  // own sockets for the same reason.
  private val NoDelay = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  private def newServer(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
}

/** Minimal JSON object reader for request bodies (arbitrary field order,
  * unknown fields tolerated-and-dropped — json.Unmarshal parity). Only the
  * shapes a request body can carry: strings, numbers, booleans, null, and
  * nested arrays/objects (parsed, then discarded by the handlers).
  */
object Json {
  sealed trait JValue
  case class JStr(s: String) extends JValue
  case class JNum(n: Double) extends JValue
  case class JBool(b: Boolean) extends JValue
  case object JNull extends JValue
  case class JArr(xs: List[JValue]) extends JValue
  case class JObj(fields: Map[String, JValue]) extends JValue

  /** Top-level object parse; None on any syntax error or non-object root. */
  def parseObject(s: String): Option[Map[String, JValue]] =
    try {
      val p = new P(s)
      p.ws()
      val v = p.value()
      p.ws()
      if (!p.done) None
      else v match { case JObj(f) => Some(f); case _ => None }
    } catch { case _: Exception => None }

  private final class P(s: String) {
    private var i = 0
    def done: Boolean = i >= s.length
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = {
      if (done || s.charAt(i) != c) throw new IllegalArgumentException(s"expected $c at $i")
      i += 1
    }
    def value(): JValue = {
      ws()
      if (done) throw new IllegalArgumentException("eof")
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(str())
        case 't' => lit("true"); JBool(true)
        case 'f' => lit("false"); JBool(false)
        case 'n' => lit("null"); JNull
        case _   => num()
      }
    }
    private def lit(l: String): Unit = {
      if (!s.startsWith(l, i)) throw new IllegalArgumentException(s"bad literal at $i")
      i += l.length
    }
    private def obj(): JObj = {
      expect('{'); ws()
      val b = Map.newBuilder[String, JValue]
      if (!done && s.charAt(i) == '}') { i += 1; return JObj(b.result()) }
      var more = true
      while (more) {
        ws(); val k = str(); ws(); expect(':')
        b += (k -> value()); ws()
        if (!done && s.charAt(i) == ',') { i += 1 }
        else { expect('}'); more = false }
      }
      JObj(b.result())
    }
    private def arr(): JArr = {
      expect('['); ws()
      val b = List.newBuilder[JValue]
      if (!done && s.charAt(i) == ']') { i += 1; return JArr(b.result()) }
      var more = true
      while (more) {
        b += value(); ws()
        if (!done && s.charAt(i) == ',') { i += 1 }
        else { expect(']'); more = false }
      }
      JArr(b.result())
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (!done && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) throw new IllegalArgumentException("bad escape")
          s.charAt(i + 1) match {
            case '"'  => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/'  => sb.append('/'); i += 2
            case 'b'  => sb.append('\b'); i += 2
            case 'f'  => sb.append('\f'); i += 2
            case 'n'  => sb.append('\n'); i += 2
            case 'r'  => sb.append('\r'); i += 2
            case 't'  => sb.append('\t'); i += 2
            case 'u'  =>
              if (i + 6 > s.length) throw new IllegalArgumentException("bad \\u")
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case o    => throw new IllegalArgumentException(s"bad escape \\$o")
          }
        } else { sb.append(c); i += 1 }
      }
      expect('"')
      sb.toString
    }
    private def num(): JNum = {
      val start = i
      while (!done && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      if (i == start) throw new IllegalArgumentException(s"bad token at $i")
      JNum(s.substring(start, i).toDouble)
    }
  }
}
