package graftbench

import java.net.{HttpURLConnection, InetAddress, InetSocketAddress, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sinks.HttpPushSink

/** In-process stand-in for the laji-etl warehouse on 127.0.0.1.
  *
  * Accepts POSTs under `/p<pass>/<endpoint>?access_token=<token>`, parses
  * every body as JSON, and answers a seeded ~1% of first attempts per
  * document with 503. Records which documents it acknowledged and how
  * often, and the area fact of every 16th document, so the benchmark can
  * check delivery. `sun.net.httpserver.nodelay` must be true before the
  * server class loads: without it every response waits on a delayed ACK
  * (about 44 ms per POST on Linux). */
final class Warehouse(seed: Long, token: String, threads: Int) {
  require(System.getProperty("sun.net.httpserver.nodelay") == "true",
    "sun.net.httpserver.nodelay must be set before the warehouse starts")

  private val mapper = new ObjectMapper()
  private val executor: ExecutorService = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "warehouse")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 512)

  // per-pass state, reset by begin()
  val acks = new ConcurrentHashMap[String, Integer]()
  private val attempts = new ConcurrentHashMap[String, Integer]()
  val facts = new ConcurrentHashMap[String, java.lang.Long]()
  val injected = new AtomicLong
  val badBodies = new AtomicLong
  val badTokens = new AtomicLong
  val firstAckNs = new AtomicLong

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(executor)
  server.start()

  val port: Int = server.getAddress.getPort
  def url(pass: Int, endpoint: String): String = s"http://127.0.0.1:$port/p$pass/$endpoint"

  def begin(): Unit = {
    acks.clear(); attempts.clear(); facts.clear()
    injected.set(0); badBodies.set(0); badTokens.set(0); firstAckNs.set(0)
  }

  /** Seeded 1-in-100 choice of which (endpoint, document) pairs fail
    * their first attempt. */
  private def inject(key: String): Boolean =
    java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key, seed.toInt), 100) == 0

  private def handle(ex: HttpExchange): Unit = {
    val status =
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val uri = ex.getRequestURI
        if (ex.getRequestMethod != "POST") 405
        else if (Option(uri.getQuery).getOrElse("") != s"access_token=$token") {
          badTokens.incrementAndGet(); 401
        } else {
          val doc = try mapper.readTree(body) catch { case _: Exception => null }
          val id = if (doc == null) null else doc.path("documentId").asText(null)
          if (id == null) { badBodies.incrementAndGet(); 400 }
          else {
            val key = s"${uri.getPath}|$id"
            val n = attempts.merge(key, 1, (a: Integer, b: Integer) => a + b)
            if (n == 1 && inject(key)) { injected.incrementAndGet(); 503 }
            else {
              acks.merge(key, 1, (a: Integer, b: Integer) => a + b)
              firstAckNs.compareAndSet(0L, System.nanoTime())
              val eventId = id.substring(id.lastIndexOf('/') + 1).toLong
              if (eventId % 16 == 0) {
                val f = doc.path("publicDocument").path("gatherings").path(0)
                  .path("units").path(0).path("facts").path(0).path("integerValue")
                facts.put(key, if (f.isMissingNode) Long.MinValue else f.asLong())
              }
              200
            }
          }
        }
      } catch { case _: Exception => 500 }
    ex.sendResponseHeaders(status, -1)
    ex.close()
  }

  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
    executor.awaitTermination(30, TimeUnit.SECONDS)
  }
}

/** Counters the push transport updates from inside Spark tasks. Tasks run
  * in this JVM (local mode), so a process-wide object sees every POST. */
object PushStats {
  val posts = new AtomicLong
  val errors = new AtomicLong
  val latenciesNs = new ConcurrentLinkedQueue[java.lang.Long]()
  val streams = ConcurrentHashMap.newKeySet[String]()

  def reset(): Unit = {
    posts.set(0); errors.set(0); latenciesNs.clear(); streams.clear()
  }
  def latenciesMs: Seq[Double] = latenciesNs.asScala.toSeq.map(_ / 1e6)
}

/** HTTP transport for [[HttpPushSink.push]] that counts every POST, the
  * responses of 500 and above, and each POST's round trip. */
final class CountingTransport extends HttpPushSink.PushTransport {
  override def post(url: String, payload: String): Int = {
    val t0 = System.nanoTime()
    val bytes = payload.getBytes(UTF_8)
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val os = c.getOutputStream
    try os.write(bytes) finally os.close()
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    if (in != null) try in.readAllBytes() finally in.close()
    PushStats.posts.incrementAndGet()
    if (code >= 500) PushStats.errors.incrementAndGet()
    PushStats.latenciesNs.add(System.nanoTime() - t0)
    Option(org.apache.spark.TaskContext.get()).foreach(tc =>
      PushStats.streams.add(s"${tc.stageId()}/${tc.partitionId()}"))
    code
  }
}
