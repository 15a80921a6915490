package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

/** One fixture stream held in memory: rows sorted by `sortKey`, each with a
  * pre-rendered record JSON and a 64-bit key hash for order-independent
  * checksums. `prefix(i)` is the wrapping sum of `hash(0 until i)`.
  */
final class Table(val sortKey: Array[Long], val json: Array[Array[Byte]], hash: Array[Long]) {
  val size: Int = sortKey.length
  private val prefix: Array[Long] = {
    val p = new Array[Long](size + 1)
    var i = 0
    while (i < size) { p(i + 1) = p(i) + hash(i); i += 1 }
    p
  }
  /** First row index with sortKey >= k. */
  def lowerBound(k: Long): Int = {
    var lo = 0; var hi = size
    while (lo < hi) { val m = (lo + hi) >>> 1; if (sortKey(m) < k) lo = m + 1 else hi = m }
    lo
  }
  def checksum(from: Int, until: Int): Long = prefix(until) - prefix(from)
}

object Table {
  /** splitmix64 finaliser: the per-row key hash used by every checksum. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def micros(rfc3339: String): Long = {
    val i = Instant.parse(rfc3339)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)
  /** Fixed-width RFC 3339 (six fraction digits), as the tables store it, so
    * string order is time order.
    */
  def rfc3339(micros: Long): String =
    fmt.format(Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))

  private def load(path: String)(row: Array[String] => (Long, String, Long)): Table = {
    val keys = ArrayBuffer[Long](); val js = ArrayBuffer[Array[Byte]](); val hs = ArrayBuffer[Long]()
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().foreach { line =>
      val (k, j, h) = row(line.split(',')); keys += k; js += j.getBytes(UTF_8); hs += h
    } finally src.close()
    new Table(keys.toArray, js.toArray, hs.toArray)
  }

  def orders(dir: String): Table = load(s"$dir/orders.csv") { c =>
    (micros(c(4)),
      s"""{"o_orderkey":${c(0)},"o_custkey":${c(1)},"o_orderstatus":"${c(2)}","o_totalprice":${c(3)},"updated_at":"${c(4)}"}""",
      mix(c(0).toLong))
  }
  def lineitem(dir: String): Table = load(s"$dir/lineitem.csv") { c =>
    (c(0).toLong,
      s"""{"l_orderkey":${c(0)},"l_partkey":${c(1)},"l_suppkey":${c(2)},"l_linenumber":${c(3)},"l_quantity":${c(4)},"l_extendedprice":${c(5)},"l_discount":${c(6)},"l_tax":${c(7)},"l_returnflag":"${c(8)}","l_linestatus":"${c(9)}","l_shipdate":"${c(10)}"}""",
      mix(c(0).toLong * 31 + c(1).toLong) + c(3).toLong)
  }
  def events(dir: String): Table = load(s"$dir/events.csv") { c =>
    (micros(c(5)),
      s"""{"event_id":${c(0)},"user_id":${c(1)},"event_type":"${c(2)}","value":${c(3)},"props":{"k":${c(4)},"tag":"${c(6)}"},"updated_at":"${c(5)}"}""",
      mix(c(0).toLong))
  }
}

final case class FixtureData(orders: Table, lineitem: Table, events: Table)

object FixtureData {
  def load(dir: String): FixtureData =
    FixtureData(Table.orders(dir), Table.lineitem(dir), Table.events(dir))
}

/** The benchmark's page server: the load generator, not the program under
  * test. A minimal HTTP/1.1 keep-alive server over plain sockets, so it can
  * set TCP_NODELAY on its own connections (the JDK `HttpServer` only takes
  * that from a JVM-wide property, which would also change the
  * `HttpFrontend` being measured). Without it every response waits ~40 ms
  * on Nagle against delayed ACK.
  *
  * Streams, one pagination style each:
  *  - `GET /orders?updated_at_min&updated_at_max&limit[&page_info]`:
  *    Link header `rel="next"`, body `{"orders":[…]}`;
  *  - `GET /lineitem?lo&hi&start&num`: offset/limit over the rows with
  *    `lo <= l_orderkey < hi`, body `{"items":[…]}`;
  *  - `GET /events?since&until&limit[&after]`: next URL in the body,
  *    `{"data":[…],"next":url|null}`.
  * Cursor bounds are inclusive below and exclusive above.
  */
final class Fixture(data: FixtureData, tracer: Tracer) {
  private val server = new ServerSocket(0, 256, InetAddress.getLoopbackAddress)
  val base: String = s"http://127.0.0.1:${server.getLocalPort}"

  val requests = new LongAdder
  val serveNanos = new LongAdder
  /** Records served per op id (from the `X-Bench-Op` header). */
  val recordsByOp = new ConcurrentHashMap[Long, AtomicLong]()
  val threadIds = ConcurrentHashMap.newKeySet[Long]()

  private val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "perfbench-fixture"); t.setDaemon(true); threadIds.add(t.getId); t
  }
  private val sockets = ConcurrentHashMap.newKeySet[Socket]()
  @volatile private var running = true

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        s.setTcpNoDelay(true)
        sockets.add(s)
        pool.execute(() => serve(s))
      } catch { case _: java.io.IOException => () }
    }
  }, "perfbench-fixture-accept")
  acceptor.setDaemon(true)
  threadIds.add(acceptor.getId)
  acceptor.start()

  def stop(): Unit = {
    running = false
    server.close()
    sockets.forEach(s => try s.close() catch { case _: Throwable => () })
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    acceptor.join(10000)
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    sb.toString
  }

  private def serve(s: Socket): Unit =
    try {
      val in = new BufferedInputStream(s.getInputStream, 16384)
      val out = s.getOutputStream
      var line = readLine(in)
      while (line != null && line.nonEmpty) {
        var op = -1L
        var parent = 0L
        var contentLength = 0
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0) {
            val name = h.substring(0, i).trim.toLowerCase
            if (name == "x-bench-op") op = h.substring(i + 1).trim.toLong
            else if (name == "x-bench-span") parent = h.substring(i + 1).trim.toLong
            else if (name == "content-length") contentLength = h.substring(i + 1).trim.toInt
          }
          h = readLine(in)
        }
        in.skipNBytes(contentLength)
        val target = line.split(' ')(1)
        val t0 = System.nanoTime
        tracer.under(parent, "fixture", "fixture.serve", op) { respond(out, target, op) }
        serveNanos.add(System.nanoTime - t0)
        requests.increment()
        line = readLine(in)
      }
    } catch {
      case _: java.io.IOException => ()
    } finally {
      sockets.remove(s)
      try s.close() catch { case _: Throwable => () }
    }

  private def params(query: String): Map[String, String] =
    if (query == null) Map.empty
    else query.split('&').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
      else URLDecoder.decode(kv.substring(0, i), UTF_8) -> URLDecoder.decode(kv.substring(i + 1), UTF_8)
    }.toMap

  private def respond(out: OutputStream, target: String, op: Long): Unit = {
    val q = target.indexOf('?')
    val path = if (q < 0) target else target.substring(0, q)
    val p = params(if (q < 0) null else target.substring(q + 1))
    val body = new ByteArrayOutputStream(1 << 16)
    var link: String = null
    var n = 0
    def page(t: Table, from: Int, until: Int, open: String): Unit = {
      body.write(open.getBytes(UTF_8))
      var i = from
      while (i < until) { if (i > from) body.write(','); body.write(t.json(i)); i += 1 }
      body.write(']')
      n = until - from
    }
    path match {
      case "/orders" =>
        val t = data.orders
        val lo = t.lowerBound(Table.micros(p("updated_at_min")))
        val hi = t.lowerBound(Table.micros(p("updated_at_max")))
        val limit = p("limit").toInt
        val from = lo + p.get("page_info").fold(0)(_.toInt)
        val until = math.min(hi, from + limit)
        page(t, from, until, """{"orders":[""")
        body.write('}')
        if (until < hi) {
          val next = s"$base/orders?updated_at_min=${enc(p("updated_at_min"))}&updated_at_max=${enc(p("updated_at_max"))}&limit=$limit&page_info=${until - lo}"
          link = s"""<$next>; rel="next""""
        }
      case "/lineitem" =>
        val t = data.lineitem
        val lo = t.lowerBound(p("lo").toLong)
        val hi = t.lowerBound(p("hi").toLong)
        val from = math.min(hi, lo + p("start").toInt)
        val until = math.min(hi, from + p("num").toInt)
        page(t, from, until, """{"items":[""")
        body.write('}')
      case "/events" =>
        val t = data.events
        val lo = t.lowerBound(Table.micros(p("since")))
        val hi = t.lowerBound(Table.micros(p("until")))
        val limit = p("limit").toInt
        val from = lo + p.get("after").fold(0)(_.toInt)
        val until = math.min(hi, from + limit)
        page(t, from, until, """{"data":[""")
        val next =
          if (until < hi) s""""$base/events?since=${enc(p("since"))}&until=${enc(p("until"))}&limit=$limit&after=${until - lo}""""
          else "null"
        body.write(s""","next":$next}""".getBytes(UTF_8))
      case _ =>
        out.write("HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n".getBytes(UTF_8)); out.flush()
        return
    }
    if (op >= 0) recordsByOp.computeIfAbsent(op, _ => new AtomicLong).addAndGet(n)
    val head = new StringBuilder("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\nContent-Length: ")
      .append(body.size()).append("\r\n")
    if (link != null) head.append("Link: ").append(link).append("\r\n")
    head.append("\r\n")
    val resp = new ByteArrayOutputStream(body.size() + head.length)
    resp.write(head.toString.getBytes(UTF_8))
    body.writeTo(resp)
    resp.writeTo(out)
    out.flush()
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, UTF_8)
}
