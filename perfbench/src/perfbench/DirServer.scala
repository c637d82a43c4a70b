package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback directory API over one org: `/users`, `/groups` and
  * `/members` pages in the Directory API's JSON shape, addressed by page
  * number (`pageToken=<n>`). One server thread; every request is counted. */
final class DirServer(org: Org, val pageSize: Int) {
  import DirServer._

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Endpoint → items, each item a field → JSON literal list. */
  val endpoints: Map[String, Vector[Seq[(String, String)]]] = {
    val users = org.vertices.filter(_.label == "user").map(v => Seq(
      "email" -> s""""${esc(v.key)}"""", "isExternal" -> v.props("isExternal")))
    val ins = org.in("in")
    val groupIdx = org.indexesOf("group")
    val groups = groupIdx.map { g =>
      val v = org.vertices(g)
      Seq("email" -> s""""${esc(v.key)}"""", "directMembersCount" -> ins(g).count(
        i => org.vertices(i).label != "role").toString)
    }
    val members = groupIdx.flatMap { g =>
      ins(g).toSeq.sorted.map(m => org.vertices(m)).filter(m => m.label == "user" || m.label == "group")
        .map(m => Seq("groupEmail" -> s""""${esc(org.vertices(g).key)}"""",
          "email" -> s""""${esc(m.key)}"""", "type" -> s""""${m.label.toUpperCase}""""))
    }
    Map("users" -> users, "groups" -> groups, "members" -> members)
  }

  /** `spark.read.format(...).option("fields", ...)` spec per endpoint. */
  val fields: Map[String, String] = Map(
    "users" -> "email:string,isExternal:boolean",
    "groups" -> "email:string,directMembersCount:long",
    "members" -> "groupEmail:string,email:string,type:string")

  def pages(endpoint: String): Int =
    math.max(1, (endpoints(endpoint).size + pageSize - 1) / pageSize)

  /** The rows the source must return, in its output column order (mapped
    * fields, then `page` and `idx`), as canonical strings. */
  def expectedRows(endpoint: String): Iterator[Seq[Any]] =
    endpoints(endpoint).iterator.zipWithIndex.map { case (item, i) =>
      item.map(_._2).map(unquote) ++ Seq(i / pageSize, i % pageSize)
    }

  val requests = new AtomicLong
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  endpoints.keys.foreach { ep =>
    server.createContext(s"/$ep", (ex: HttpExchange) => {
      requests.incrementAndGet()
      try {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
          .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val page = q.get("pageToken").filter(_.nonEmpty).map(_.toInt).getOrElse(0)
        val size = q.get("pageSize").map(_.toInt).getOrElse(pageSize)
        val items = endpoints(ep).slice(page * size, (page + 1) * size)
        val next = if ((page + 1) * size < endpoints(ep).size) s""","nextPageToken":"${page + 1}"""" else ""
        val body = items.map(_.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
          .mkString(s"""{"kind":"directory#$ep","$ep":[""", ",", s"""]$next}""").getBytes(UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      } finally ex.close()
    })
  }
  server.setExecutor(null) // the dispatcher thread serves every request
  server.start()

  def url(endpoint: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/$endpoint"

  def stop(): Unit = server.stop(0)
}

object DirServer {
  private def unquote(json: String): Any =
    if (json.startsWith("\"")) json.substring(1, json.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
    else if (json == "true" || json == "false") json.toBoolean
    else json.toLong
}
