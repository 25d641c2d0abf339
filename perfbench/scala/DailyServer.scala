package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-in for the two HTTP endpoints of the daily pipeline:
  * `GET /fund/BFI82U?response=json&dayDate=<d>` serves the generated
  * payload of day `d`, and `POST /notify` accepts a Telegram-style
  * `chat_id=..&text=..` form and records the text. Any other request is
  * answered 404 and counted as a bad route.
  */
final class DailyServer(days: Map[String, DataGen.Day]) {
  val fetches = new AtomicInteger
  val badRoutes = new AtomicInteger
  private val texts = mutable.ArrayBuffer.empty[String]

  /** Texts POSTed so far, in arrival order. */
  def posted: Seq[String] = texts.synchronized(texts.toList)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def fetchUrl: String = s"$base/fund/BFI82U"
  def notifyUrl: String = s"$base/notify"
  def stop(): Unit = server.stop(0)

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).map { kv =>
      val kvs = kv.split("=", 2) :+ ""
      kvs(0) -> URLDecoder.decode(kvs(1), StandardCharsets.UTF_8)
    }.toMap

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath
    val reply: Option[String] = (ex.getRequestMethod, path) match {
      case ("GET", "/fund/BFI82U") =>
        query(ex).get("dayDate").flatMap(days.get).map { d =>
          fetches.incrementAndGet(); d.body
        }
      case ("POST", "/notify") =>
        val form = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        form.split("&").find(_.startsWith("text=")).map { t =>
          texts.synchronized(texts += URLDecoder.decode(t.drop(5), StandardCharsets.UTF_8))
          """{"ok":true}"""
        }
      case _ => None
    }
    val (code, body) = reply.map(200 -> _).getOrElse {
      badRoutes.incrementAndGet(); 404 -> "not found"
    }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  } finally ex.close()
}
