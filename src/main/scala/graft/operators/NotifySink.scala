package graft.operators

import java.io.IOException
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

/** The side-effecting half of the E2/E3 notification sinks: the actual
  * HTTP POST the reference performs against the Telegram bot API
  * (`Final_app.py:130-142` builds the success/alert text;
  * `dags/telegram.py:29-34` POSTs it as a `sendMessage` call with
  * `chat_id` + `text`).
  *
  * A tick sends one or two messages, so they go out from the driver, one
  * POST each, with no Spark job. The endpoint is injected (tests use a
  * loopback `HttpServer`); the production value is the bot-API
  * `sendMessage` URL. A non-2xx response throws, which fails the caller's
  * delivery step and engages its retry budget.
  */
object NotifySink {

  /** POST `text` to `endpoint` as a form-encoded `chat_id`/`text` pair. */
  def send(endpoint: String, chatId: String, text: String): Unit = {
    val body =
      s"chat_id=${URLEncoder.encode(chatId, "UTF-8")}" +
        s"&text=${URLEncoder.encode(text, "UTF-8")}"
    val conn = URI.create(endpoint).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type",
        "application/x-www-form-urlencoded; charset=UTF-8")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      conn.setFixedLengthStreamingMode(bytes.length)
      conn.getOutputStream.write(bytes)
      val rc = conn.getResponseCode
      if (rc < 200 || rc >= 300)
        throw new IOException(s"notification POST failed: HTTP $rc")
      conn.getInputStream.close()
    } finally conn.disconnect()
  }
}
