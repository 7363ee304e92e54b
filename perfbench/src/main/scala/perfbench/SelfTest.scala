package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** JVM-side tests of the harness, run by `tests.py`: the receiver counts
  * every request (duplicates included) and keeps each body and key; the
  * timing leaderboard counts like the plain one and its top-k order check
  * rejects a misordered read. Exits non-zero on the first failure. */
object SelfTest {
  private def require(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val recv = new Receiver(System.nanoTime())
    val client = HttpClient.newHttpClient()
    def post(key: String, body: String): Int =
      client.send(HttpRequest.newBuilder(URI.create(recv.endpoint))
        .header("Idempotency-Key", key)
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.discarding()).statusCode()
    val codes = Seq(post("1", """{"event_id":1}"""), post("2", """{"event_id":2}"""),
      post("2", """{"event_id":2}"""))
    recv.stop()
    require(codes.forall(_ == 200), s"receiver answered $codes")
    require(recv.requests.get == 3, s"requests ${recv.requests.get} != 3")
    require(recv.hits.size == 3, s"hits ${recv.hits.size} != 3")
    require(recv.distinctKeys == 2, s"distinct keys ${recv.distinctKeys} != 2")
    val bodies = recv.hits.toArray(Array.empty[recv.Hit]).map(h => h.key -> h.body).toSet
    require(bodies == Set("1" -> """{"event_id":1}""", "2" -> """{"event_id":2}"""),
      s"bodies $bodies")
    require(recv.handlerNanos.get > 0, "receiver handler time not recorded")

    val lb = new TimedLeaderboard
    lb.increment(Seq("b" -> 2L, "a" -> 2L, "c" -> 5L))
    lb.increment(Seq("a" -> 1L))
    val top = lb.topK(10)
    require(top == Seq("c" -> 5L, "a" -> 3L, "b" -> 2L), s"topK $top")
    require(lb.incrementCalls.get == 2 && lb.topKCalls.get == 1, "leaderboard call counts")
    require(Workload.topKOrdered(top), "ordered top-k rejected")
    require(!Workload.topKOrdered(Seq("b" -> 2L, "a" -> 2L)), "key order not checked")
    require(!Workload.topKOrdered(Seq("a" -> 1L, "b" -> 2L)), "count order not checked")
    println("SelfTest: ok")
  }
}
