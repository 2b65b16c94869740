package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A running endpoint started by [[HttpEndpoint]], [[LiveEndpoint]] or
  * [[SearchEndpoint]]. */
final class Handle private[serve] (server: HttpServer) {
  def port: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

/** The one HTTP scaffold every endpoint in this package runs on: one
  * JDK `com.sun.net.httpserver` with a single root context and an
  * EXACT route table. A pattern is literal segments plus wildcard
  * segments `*`, each matching one non-empty path segment (the district
  * point query `/district/<id>/<type>` is one literal and two
  * wildcards); the matched segments reach the handler as
  * [[Request.args]]. Every request follows one order:
  *  1. no route matches → 404;
  *  2. the method is not GET → 405;
  *  3. the server's `ready` predicate is false → 503 (the live
  *     servers: their view has no first micro-batch yet — retryable);
  *  4. the handler answers (200, 400 or 404);
  *  5. the handler throws → 500 with the message, `text/plain`.
  * Handlers block on the server's default executor. */
private[serve] object Routes {

  final case class Request(args: Seq[String], rawQuery: Option[String])

  final case class Reply(code: Int, contentType: String, body: Array[Byte])

  object Reply {
    def json(body: String): Reply =
      Reply(200, "application/json", body.getBytes(UTF_8))
    def jsonArray(items: Iterable[String]): Reply =
      json(items.mkString("[", ",", "]"))
    def text(code: Int, msg: String): Reply =
      Reply(code, "text/plain", msg.getBytes(UTF_8))
    val notFound: Reply = text(404, "not found")
  }

  final case class Route(pattern: String)(val handler: Request => Reply) {
    private val segments = pattern.split("/", -1).toSeq.tail

    /** The `*` segments of `path` when it matches, else None. */
    def args(path: Seq[String]): Option[Seq[String]] = {
      val pairs = segments.zip(path)
      Option.when(path.length == segments.length && pairs.forall {
        case ("*", s) => s.nonEmpty
        case (lit, s) => lit == s
      })(pairs.collect { case ("*", s) => s })
    }
  }

  def serve(port: Int, routes: Seq[Route],
      ready: () => Boolean = () => true): Handle = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val uri = ex.getRequestURI
      val path = uri.getPath.split("/", -1).toSeq.tail
      val reply =
        try routes.iterator.flatMap(r => r.args(path).map(r -> _))
          .nextOption() match {
            case None => Reply.notFound
            case _ if ex.getRequestMethod != "GET" => Reply.text(405, "GET only")
            case _ if !ready() => Reply.text(503, "view not ready")
            case Some((route, args)) =>
              route.handler(Request(args, Option(uri.getRawQuery)))
          }
        catch {
          case e: Throwable => Reply.text(500, String.valueOf(e.getMessage))
        }
      ex.getResponseHeaders.set("Content-Type", reply.contentType)
      ex.sendResponseHeaders(reply.code, reply.body.length)
      ex.getResponseBody.write(reply.body)
      ex.close()
    })
    server.start()
    new Handle(server)
  }
}
