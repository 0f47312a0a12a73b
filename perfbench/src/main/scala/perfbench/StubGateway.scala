package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process extraction gateway speaking [[graft.extract.HttpExtractionClient]]'s
  * protocol. It stands in for the model call: it parses the
  * `Key=Value` lines of each document's text, sleeps a fixed service
  * time per batch, and answers. The first attempt of each batch that
  * `failFirst` picks (from the batch's document names) gets HTTP 503,
  * so the extractor's retry path runs the same way on every run with
  * the same seed.
  *
  * Counters are kept at the stub: calls, documents, failed first
  * attempts, busy time and the most calls in flight at once. */
final class StubGateway(serviceMs: Long, threads: Int, failFirst: Seq[String] => Boolean,
                        onBusy: (Double, Double) => Unit) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  private val mapper = new ObjectMapper()
  private val attempts = new ConcurrentHashMap[String, Integer]()
  private val inflight = new AtomicInteger()
  val calls, docs, retried = new AtomicLong()
  val busyMicros = new AtomicLong()
  val inflightMax = new AtomicInteger()

  server.createContext("/extract", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/extract"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = Trace.nowMs()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    try {
      val req = mapper.readTree(ex.getRequestBody.readAllBytes())
      val keys = req.get("keys").elements()
      val keySet = Iterator.continually(keys).takeWhile(_.hasNext).map(_.next().asText()).toSet
      val docNodes = (0 until req.get("docs").size).map(req.get("docs").get(_))
      val names = docNodes.map(_.get("name").asText()).sorted
      val attempt = attempts.merge(names.mkString("|"), 1, (a: Integer, b: Integer) => a + b)
      Thread.sleep(serviceMs)
      calls.incrementAndGet()
      if (attempt == 1 && failFirst(names)) {
        retried.incrementAndGet()
        reply(ex, 503, """{"error":"busy"}""")
      } else {
        docs.addAndGet(docNodes.size)
        val root = mapper.createObjectNode()
        val results = root.putArray("results")
        docNodes.foreach { d =>
          val text = new String(java.util.Base64.getDecoder.decode(d.get("content_b64").asText()),
            StandardCharsets.UTF_8)
          val o = results.addObject()
          StubGateway.parse(text).foreach { case (k, v) => if (keySet(k)) o.put(k, v) }
        }
        reply(ex, 200, mapper.writeValueAsString(root))
      }
    } catch {
      case e: Exception => reply(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
    } finally {
      inflight.decrementAndGet()
      val t1 = Trace.nowMs()
      busyMicros.addAndGet(((t1 - t0) * 1000).toLong)
      onBusy(t0, t1)
    }
  }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length.toLong)
    val out = ex.getResponseBody
    try out.write(b) finally out.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
}

object StubGateway {
  /** `Key=Value` lines of a document's text; other lines are ignored. */
  def parse(text: String): Seq[(String, String)] =
    text.linesIterator.map(_.trim).filter(_.contains("=")).map { l =>
      val i = l.indexOf('=')
      l.substring(0, i).trim -> l.substring(i + 1).trim
    }.toSeq
}
