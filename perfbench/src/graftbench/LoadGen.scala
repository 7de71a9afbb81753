package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** One request of a closed loop: where it goes, what it carries, and the
  * check its response body must pass. `key` names the generated input
  * (e.g. a pool slot) so answers can be compared after the loop. */
final case class Req(kind: String, path: String, body: String,
                     check: String => Boolean = _ => true, key: Int = -1)

/** One completed request, timed at the client. `obsBefore`/`obsAfter`
  * are the loop's observer read just before sending and just after the
  * response arrived (e.g. the standing corpus version). */
final case class Sample(kind: String, startNs: Long, endNs: Long, body: String,
                        obsBefore: Long, obsAfter: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The closed-loop HTTP load generator every served workload uses: each
  * client thread owns one JDK HttpClient (HTTP/1.1, so one kept-alive
  * connection) and sends its next request only after the previous
  * response has arrived and been checked. A refused or errored request,
  * a non-200 status, or a body failing its check counts as failed. */
object LoadGen {
  def closedLoop(port: Int, clients: Int, tally: Stats.Tally,
                 next: (Int, Int) => Option[Req],
                 observe: () => Long = () => 0L): Array[Sample] = {
    require(clients >= 1 && clients <= Runtime.getRuntime.availableProcessors(),
      s"$clients clients exceed the ${Runtime.getRuntime.availableProcessors()} available cores")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val errors = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        try {
          var i = 0
          var req = next(c, i)
          while (req.isDefined) {
            out.add(send(http, port, req.get, tally, observe))
            i += 1
            req = next(c, i)
          }
        } catch { case e: Throwable => errors.compareAndSet(null, e) }
      }, s"bench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    if (errors.get() != null) throw errors.get()
    out.toArray(Array.empty[Sample])
  }

  /** One timed request with its check applied. */
  def send(http: HttpClient, port: Int, r: Req, tally: Stats.Tally,
           observe: () => Long = () => 0L): Sample = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      .POST(HttpRequest.BodyPublishers.ofString(r.body, StandardCharsets.UTF_8))
      .build()
    val ob = observe()
    val t0 = System.nanoTime()
    val (status, body) =
      try {
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      } catch { case e: java.io.IOException => (-1, s"request failed: $e") }
    val t1 = System.nanoTime()
    val ok = status == 200 && r.check(body)
    tally.attempt(ok, s"${r.kind} key=${r.key} status=$status body=${body.take(160)}")
    Sample(r.kind, t0, t1, body, ob, observe())
  }

  /** Minimal JSON string escaping for request bodies. */
  def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.toString
  }
}
