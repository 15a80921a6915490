package perfbench

import java.io.{BufferedReader, FilterInputStream, InputStream, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient => JHttpClient, HttpRequest => JHttpRequest, HttpResponse => JHttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.connectors.ConnectorDefs
import graft.core.{Cmd, Connector, Json, ProtoWriter, RunConfig}
import graft.server.HttpFrontend
import graft.sources.JdkHttpClient

/** `sync_server`: closed-loop clients POSTing `/bench/read` to an in-process
  * `HttpFrontend`, one seeded window of one stream per op, in a seeded
  * dialect and compression. No Spark.
  */
object SyncServer {
  val Clients = 2
  val WindowRecords = 3000
  /** Traced ops whose layers are also measured by direct calls, after the
    * timed phase.
    */
  val LayerOps = 24
  val WarmupOps = 48
  private val Streams = Seq("orders", "lineitem", "events")
  private val Combos = for (s <- Streams; d <- Seq("airbyte", "singer"); z <- Seq(false, true)) yield (s, d, z)

  final case class Op(id: Long, window: Window, dialect: String, zstd: Boolean) {
    def stream: String = window.stream
    def control: String = {
      val lines = Seq(
        s"""{"type":"SETTINGS","settings":{"format":"$dialect"}}""",
        s"""{"type":"CONFIG","config":${window.config(id)}}""") ++
        window.state.map(s => s"""{"type":"STATE","state":{"data":{"$stream":$s}}}""") ++
        Seq(s"""{"type":"CATALOG","catalog":{"streams":[{"name":"$stream"}]}}""")
      lines.mkString("\n")
    }
    def runConfig: RunConfig = RunConfig.parse(control.linesIterator)
  }

  /** Op k of the schedule: every block of 12 ops holds each (stream,
    * dialect, zstd) combination once, in a seeded order; windows are
    * seeded per op.
    */
  final class Schedule(seed: Long, data: FixtureData) {
    def op(k: Long): Op = {
      val order = Window.shuffled(seed * 7919 + k / Combos.size, Combos.size)
      val (stream, dialect, zstd) = Combos(order((k % Combos.size).toInt))
      val rng = new SplittableRandom(Table.mix(seed * 104729 + k))
      Op(k, Window.draw(stream, WindowRecords, rng, data), dialect, zstd)
    }
  }

  /** Key hash of one RECORD's data, matching [[Table]]'s per-row hash. */
  private def hash(stream: String, d: com.fasterxml.jackson.databind.JsonNode): Long = stream match {
    case "orders" => Table.mix(d.get("o_orderkey").asLong)
    case "lineitem" =>
      Table.mix(d.get("l_orderkey").asLong * 31 + d.get("l_partkey").asLong) + d.get("l_linenumber").asLong
    case "events" => Table.mix(d.get("event_id").asLong)
  }

  private final class CountingInput(in: InputStream) extends FilterInputStream(in) {
    var bytes = 0L
    override def read(): Int = { val c = super.read(); if (c >= 0) bytes += 1; c }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) bytes += n; n
    }
  }

  final case class Sample(op: Op, ms: Double, firstMs: Double, wire: Long, decoded: Long)

  /** Sends one op, reads the whole response, then checks it; returns the
    * sample or throws. Only the first RECORD is decoded while the clock
    * runs.
    */
  private def send(client: JHttpClient, url: String, op: Op): Sample = {
    val b = JHttpRequest.newBuilder(URI.create(url)).POST(JHttpRequest.BodyPublishers.ofString(op.control))
    if (op.zstd) b.header("Accept-Zstd", "true")
    val t0 = System.nanoTime
    val resp = client.send(b.build(), JHttpResponse.BodyHandlers.ofInputStream())
    val raw = new CountingInput(resp.body())
    var firstNs = -1L
    val lines = ArrayBuffer[String]()
    try {
      if (resp.statusCode != 200) throw new RuntimeException(s"HTTP ${resp.statusCode}")
      val in = if (op.zstd) new com.github.luben.zstd.ZstdInputStream(raw) else raw
      val r = new BufferedReader(new InputStreamReader(in, UTF_8), 1 << 16)
      var line = r.readLine()
      while (line != null) {
        if (firstNs < 0 && line.startsWith("""{"type":"RECORD"""")) { Json.parse(line); firstNs = System.nanoTime }
        lines += line
        line = r.readLine()
      }
    } finally raw.close()
    val t1 = System.nanoTime
    var count = 0L
    var sum = 0L
    var schemaSeen = false
    var stateTo: String = null
    val errors = ArrayBuffer[String]()
    lines.foreach { line =>
      val n = Json.parse(line)
      n.get("type").asText match {
        case "RECORD" =>
          if (op.dialect == "singer" && !schemaSeen) errors += "RECORD before SCHEMA"
          val (stream, data) =
            if (op.dialect == "singer") (n.get("stream").asText, n.get("record"))
            else (n.get("record").get("stream").asText, n.get("record").get("data"))
          if (stream != op.stream) errors += s"record of stream $stream"
          sum += hash(op.stream, data)
          count += 1
        case "SCHEMA" => schemaSeen = true
        case "STATE" =>
          val s = if (op.dialect == "singer") n.get("value") else n.get("state").get("data")
          Option(s.get(op.stream)).foreach(x => stateTo = x.get("To").asText)
        case "LOG" => errors += s"LOG ${n.get("log")}"
        case other => errors += s"unexpected $other"
      }
    }
    val w = op.window
    if (count != w.records) errors += s"records $count != ${w.records}"
    if (sum != w.checksum) errors += "key checksum mismatch"
    if (op.stream == "events" && stateTo != w.hi) errors += s"STATE To $stateTo != ${w.hi}"
    if (errors.nonEmpty)
      throw new RuntimeException(s"op ${op.id} ${op.stream}/${op.dialect}/zstd=${op.zstd}: ${errors.take(3).mkString("; ")}")
    Sample(op, (t1 - t0) / 1e6, if (firstNs < 0) Double.NaN else (firstNs - t0) / 1e6, raw.bytes,
      lines.map(_.length + 1L).sum)
  }

  /** Per-op layer measurements, made directly and outside the op's time. */
  final class Layers {
    val fetchSelfNs = new AtomicLong; val fetchRecs = new AtomicLong
    val encodeNs = new AtomicLong; val encodeRecs = new AtomicLong; val bytesOut = new AtomicLong
    val handleMs = new ConcurrentLinkedQueue[Double](); val overheadMs = new ConcurrentLinkedQueue[Double]()
  }

  /** Measures one op's layers by direct calls, one at a time and untraced:
    * the op sent alone through the untraced server, then `Connector.handle`
    * over the same plain transport, a `PaginatedStream.fetch` drain and the
    * envelope encode.
    */
  private def measureLayers(op: Op, url: String, ctx: Ctx, l: Layers): Unit = {
    val src = ConnectorDefs.all(BenchSource.Name)
    val rc = op.runConfig
    val (sd, runner) = src.httpStreams.find(_._1.name == op.stream).get
    val http = JHttpClient.newBuilder().version(JHttpClient.Version.HTTP_1_1).build()
    val clientMs = send(http, url, op).ms
    // core: the whole connector read, called directly
    val h0 = System.nanoTime
    Connector.handle(src, Cmd.Read, rc, new CountingWriter, Connector.transport(src, new JdkHttpClient()))
    val hMs = (System.nanoTime - h0) / 1e6
    l.handleMs.add(hMs)
    l.overheadMs.add(clientMs - hMs)
    // sources: PaginatedStream.fetch drain minus transport time
    val c = new SourceCounters
    val client = new TimingClient(new JdkHttpClient(), c, ctx.tracer)
    val recs = ArrayBuffer[String]()
    val d0 = System.nanoTime
    runner.stream(rc.config, rc.states.get(op.stream)).fetch(client).foreach(recs += _)
    val drainNs = System.nanoTime - d0
    l.fetchSelfNs.addAndGet(drainNs - c.getNanos.sum)
    l.fetchRecs.addAndGet(recs.size)
    // core: envelope encode into a counting writer
    val cw = new CountingWriter
    val e0 = System.nanoTime
    val w = ProtoWriter(op.dialect, cw)
    w.openStream(sd)
    recs.foreach(w.writeRecord(op.stream, _))
    runner.newState(rc.config, rc.states.get(op.stream)).foreach(w.writeState(op.stream, _))
    w.close(Cmd.Read)
    l.encodeNs.addAndGet(System.nanoTime - e0)
    l.encodeRecs.addAndGet(recs.size)
    l.bytesOut.addAndGet(cw.chars)
  }

  final class Phase {
    val samples = new ConcurrentLinkedQueue[Sample]()
    var wallNs = 0L
  }

  /** Runs ops `from, from+1, …` on [[Clients]] closed-loop clients until
    * `ops` ops ran (when > 0) or `seconds` elapsed; op k goes to `url(k)`.
    */
  private def phase(ctx: Ctx, url: Long => String, schedule: Schedule, from: Long, ops: Long,
      seconds: Double, res: Result): Phase = {
    val ph = new Phase
    val next = new AtomicLong(from)
    val t0 = System.nanoTime
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { i =>
      val t = new Thread(() => {
        val client = JHttpClient.newBuilder().version(JHttpClient.Version.HTTP_1_1).build()
        var go = true
        while (go) {
          val k = next.getAndIncrement()
          if ((ops > 0 && k >= from + ops) || (ops <= 0 && System.nanoTime > deadline)) go = false
          else {
            val op = schedule.op(k)
            res.synchronized(res.attempted += 1)
            try {
              val s = ctx.tracer.root("server", "server.read", op.id)(send(client, url(k), op))
              ph.samples.add(s)
            } catch { case e: Throwable => res.fail(String.valueOf(e.getMessage)) }
          }
        }
      }, s"perfbench-client-$i")
      ctx.clientThreads.add(t.getId)
      t.start(); t
    }
    threads.foreach(_.join())
    ph.wallNs = System.nanoTime - t0
    ph
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val data = ctx.timeSetup("fixture_s", 3)(FixtureData.load(ctx.httpDir))
    val fixture = new Fixture(data, ctx.tracer)
    ConnectorDefs.register(BenchSource.source(fixture.base))
    val schedule = new Schedule(ctx.seed, data)
    // traced runs send odd ops, which they trace, to a second frontend whose
    // base transport is the timing decorator; even ops keep the plain one
    val counters = new SourceCounters
    def frontend(base: graft.sources.HttpClient) = new HttpFrontend(ConnectorDefs.all, base, maxConcurrent = 8).start()
    def readUrl(fe: HttpFrontend) = s"http://127.0.0.1:${fe.boundPort}/${BenchSource.Name}/read"
    val plain = frontend(new JdkHttpClient())
    val timing = if (ctx.trace) Some(frontend(new TimingClient(new JdkHttpClient(), counters, ctx.tracer))) else None
    val url: Long => String = k => readUrl(if (k % 2 == 1) timing.getOrElse(plain) else plain)
    try {
      val warm = new Result
      ctx.timeSetup("warmup_s", 1)(phase(ctx, url, schedule, 0, WarmupOps, 0, warm))
      if (warm.failed > 0) res.fail(s"warmup: ${warm.failures.head}")
      ctx.setupDone()
      val alloc = new AllocProbe(() => fixture.threadIds.asScala.map(_.longValue) ++ ctx.clientThreads.asScala.map(_.longValue))
      val fx0 = (fixture.requests.sum, fixture.serveNanos.sum)
      val c0 = (counters.requests.sum, counters.pages.sum, counters.retries.sum, counters.bytesIn.sum, counters.getMs.size)
      ctx.tracer.traced = _ % 2 == 1
      ctx.tracer.enabled = ctx.trace
      val a0 = alloc.mark()
      val p = phase(ctx, url, schedule, WarmupOps, 0, ctx.seconds, res)
      val a1 = alloc.mark()
      ctx.tracer.enabled = false
      alloc.close()
      val fx1 = (fixture.requests.sum, fixture.serveNanos.sum)
      val getMs = counters.getMs.asScala.toSeq.drop(c0._5)
      val all = p.samples.asScala.toSeq
      val (ts, s) = if (ctx.trace) all.partition(_.op.id % 2 == 1) else (Nil, all)
      val recs = all.map(_.op.window.records.toLong).sum
      val lat = s.map(_.ms)
      res.put("sync_p50_ms", Stats.median(lat), "ms")
      res.put("sync_p95_ms", Stats.quantile(lat, 0.95), "ms")
      res.put("first_record_p50_ms", Stats.median(s.map(_.firstMs)), "ms")
      res.put("records_per_s", recs / (p.wallNs / 1e9), "1/s")
      res.put("op_p50_ms", Stats.median(lat), "ms")
      res.put("op_p95_ms", Stats.quantile(lat, 0.95), "ms")
      res.put("work_per_s", recs / (p.wallNs / 1e9), "1/s")
      res.put("fixture.busy_ratio", (fx1._2 - fx0._2).toDouble / (p.wallNs.toDouble * Clients), "ratio")
      res.info("ops") = all.size.toString
      res.info("ops_beyond_p95") = (s.size - math.ceil(0.95 * s.size).toInt).toString
      if (ctx.trace) {
        val layers = new Layers
        ts.take(LayerOps).foreach { x =>
          try measureLayers(x.op, readUrl(plain), ctx, layers)
          catch { case e: Throwable => res.fail(s"layers of op ${x.op.id}: ${e.getMessage}") }
        }
        val n = math.max(1, all.size).toDouble
        // only traced ops pass through the timing transport
        val nt = math.max(1, ts.size).toDouble
        // throughput over op time only, for traced and untraced ops alike
        def busyRate(xs: Seq[Sample]) = xs.map(_.op.window.records.toLong).sum / (xs.map(_.ms).sum / 1e3)
        res.put("trace.d_op_p50_ms", Stats.median(ts.map(_.ms)) - Stats.median(lat), "ms")
        res.put("trace.d_op_p95_ms", Stats.quantile(ts.map(_.ms), 0.95) - Stats.quantile(lat, 0.95), "ms")
        res.put("trace.d_work_per_s", busyRate(ts) - busyRate(s), "1/s")
        res.put("sources.requests", (counters.requests.sum - c0._1) / nt, "count")
        res.put("sources.pages", (counters.pages.sum - c0._2) / nt, "count")
        res.put("sources.retries", (counters.retries.sum - c0._3) / nt, "count")
        res.put("sources.bytes_in", (counters.bytesIn.sum - c0._4) / nt, "bytes")
        res.put("sources.get_p50_ms", Stats.median(getMs), "ms")
        res.put("sources.fetch_self_us_per_rec", layers.fetchSelfNs.get / 1e3 / math.max(1, layers.fetchRecs.get), "us")
        res.put("core.handle_ms", Stats.median(layers.handleMs.asScala), "ms")
        res.put("core.encode_us_per_rec", layers.encodeNs.get / 1e3 / math.max(1, layers.encodeRecs.get), "us")
        res.put("core.bytes_out", layers.bytesOut.get.toDouble / math.max(1, layers.handleMs.size), "bytes")
        res.put("server.overhead_ms", Stats.median(layers.overheadMs.asScala), "ms")
        res.put("server.wire_bytes", all.map(_.wire).sum / n, "bytes")
        val z = all.filter(_.op.zstd)
        res.put("server.zstd_ratio", z.map(_.decoded).sum.toDouble / math.max(1L, z.map(_.wire).sum), "ratio")
        res.put("fixture.requests", (fx1._1 - fx0._1) / n, "count")
        res.put("fixture.serve_ms", (fx1._2 - fx0._2) / 1e6 / math.max(1L, fx1._1 - fx0._1), "ms")
        res.put("jvm.alloc_bytes_per_rec", alloc.between(a0, a1)._1.toDouble / math.max(1L, recs), "bytes")
        res.put("jvm.gc_ms", alloc.between(a0, a1)._2.toDouble, "ms")
      }
    } finally { plain.stop(); timing.foreach(_.stop()); fixture.stop() }
    res
  }
}
