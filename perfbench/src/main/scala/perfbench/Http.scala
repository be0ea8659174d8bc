package perfbench

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Blocking HTTP client for the benchmark's closed-loop clients. */
object Http {
  final case class Resp(status: Int, body: String) {
    def ok: Boolean = status / 100 == 2
  }

  private val mapper = new ObjectMapper

  def json(s: String): JsonNode = mapper.readTree(s)

  def get(url: String): Resp = call("GET", url)
  def post(url: String): Resp = call("POST", url)

  private def call(method: String, url: String): Resp = {
    val c = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    if (method == "POST") { c.setDoOutput(true); c.getOutputStream.close() }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body =
      if (in == null) ""
      else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    Resp(status, body)
  }

  /** A failed request as `<class>: <detail>`: the class is the Spark
    * error class the body names (`[FAILED_READ_FILE.FILE_NOT_EXIST] ...`),
    * else `http_<status>`. */
  def failure(r: Resp): String = {
    val detail = try Option(json(r.body).get("detail")).map(_.asText).getOrElse(r.body)
    catch { case _: IOException => r.body }
    s"${errorClass(detail).getOrElse(s"http_${r.status}")}: ${detail.take(300)}"
  }

  private val Bracketed = """\[([A-Z][A-Z0-9_.]+)\]""".r
  def errorClass(msg: String): Option[String] =
    Bracketed.findFirstMatchIn(Option(msg).getOrElse("")).map(_.group(1))
}
