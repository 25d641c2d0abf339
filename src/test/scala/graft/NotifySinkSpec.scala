package graft

import java.nio.charset.StandardCharsets
import java.net.URLDecoder

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.TwseFixtures
import graft.operators.{NotifySink, TwsePipeline}

/** E2/E3 side-effecting delivery: the notification rows must actually
  * arrive over HTTP, one driver-side POST each, with the reference's
  * message bodies (`Final_app.py:130-142`, `dags/telegram.py:29-34`).
  */
class NotifySinkSpec extends SparkTestBase {

  /** Loopback sendMessage endpoint recording each POST's decoded
    * chat_id/text pair.
    */
  private def withServer[A](body: (String, java.util.List[(String, String)]) => A): A = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val posts =
      java.util.Collections.synchronizedList(new java.util.ArrayList[(String, String)]())
    server.createContext("/bot-test/sendMessage", (ex: HttpExchange) => {
      val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val kv = raw.split("&").map { p =>
        val Array(k, v) = p.split("=", 2)
        k -> URLDecoder.decode(v, "UTF-8")
      }.toMap
      if (ex.getRequestMethod == "POST") posts.add((kv("chat_id"), kv("text")))
      val ok = "{\"ok\":true}".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, ok.length)
      ex.getResponseBody.write(ok)
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/bot-test/sendMessage", posts)
    finally server.stop(0)
  }

  /** Send every `message` of `messages` to `endpoint` as "graft-chat". */
  private def sendAll(messages: org.apache.spark.sql.DataFrame, endpoint: String): Unit =
    messages.collect().foreach(r => NotifySink.send(endpoint, "graft-chat", r.getAs[String]("message")))

  test("E2: success notifications POST one message per valid day") {
    withServer { (endpoint, posts) =>
      sendAll(TwsePipeline.notifySuccess(spark), endpoint)
      val got = posts.toArray(Array.empty[(String, String)]).toSeq.sorted
      assert(got.map(_._1).distinct === Seq("graft-chat"))
      // exactly the open+valid golden day gets a dated success message
      assert(got.map(_._2) === Seq("20220819" + TwseFixtures.successMsgSuffix))
    }
  }

  test("E3: alert notifications POST the drift message for invalid days") {
    withServer { (endpoint, posts) =>
      sendAll(TwsePipeline.notifyAlert(spark), endpoint)
      val got = posts.toArray(Array.empty[(String, String)]).toSeq
      // exactly the arity-drifted golden day fires the constant alert
      assert(got === Seq(("graft-chat", TwseFixtures.alertMsg)))
    }
  }

  test("a non-2xx response fails the posting task (retry-budget semantics)") {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/down", (ex: HttpExchange) => {
      ex.sendResponseHeaders(503, -1); ex.close()
    })
    server.start()
    try {
      val e = intercept[java.io.IOException] {
        NotifySink.send(s"http://127.0.0.1:${server.getAddress.getPort}/down", "c", "x")
      }
      assert(e.getMessage === "notification POST failed: HTTP 503")
    } finally server.stop(0)
  }
}
