package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.{HttpClient, HttpRequest, HttpResponse}

object Stats {
  /** Linear-interpolated quantile (numpy's default), NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val i = pos.toInt
      if (i + 1 >= s.length) s(i) else s(i) + (pos - i) * (s(i + 1) - s(i))
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Total length of the union of [start, end) intervals. */
  def union(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = 0L; var curE = 0L; var open = false
    spans.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) { if (open) total += curE - curS; curS = s; curE = e; open = true }
      else if (e > curE) curE = e
    }
    if (open) total + curE - curS else total
  }
}

/** One timed call into the program, recorded by benchmark code. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the timed ops of a traced run. Parents come
  * from the calling thread's open spans; a span opened on a thread with
  * none (a server or fixture thread) is parented to an explicit parent
  * span, else to its op's root span. Only ops that `traced` accepts are
  * recorded (traced runs alternate traced and untraced ops, so the two can
  * be compared); for other ops, and when disabled, `span` is a plain call.
  */
final class Tracer(@volatile var enabled: Boolean) {
  @volatile var traced: Long => Boolean = _ => true
  private def on(op: Long): Boolean = enabled && traced(op)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val roots = new ConcurrentHashMap[Long, java.lang.Long]()
  private val rootOps = ConcurrentHashMap.newKeySet[Long]()
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Long]](() => new java.util.ArrayDeque[Long]())

  def span[T](layer: String, name: String, op: Long)(body: => T): T =
    if (!on(op)) body else open(layer, name, op, isRoot = false)(body)

  /** Opens an op's root span on the calling thread. */
  def root[T](layer: String, name: String, op: Long)(body: => T): T =
    if (!on(op)) body else open(layer, name, op, isRoot = true)(body)

  /** A span whose parent was opened on another thread (`parent` > 0), as
    * a fixture request under the transport call that sent it.
    */
  def under[T](parent: Long, layer: String, name: String, op: Long)(body: => T): T =
    if (!on(op)) body else open(layer, name, op, isRoot = false, given = parent)(body)

  /** The innermost span open on the calling thread, 0 if none. */
  def current: Long = { val st = stack.get; if (st.isEmpty) 0L else st.peek }

  private def open[T](layer: String, name: String, op: Long, isRoot: Boolean,
      given: Long = 0L)(body: => T): T = {
    val id = ids.incrementAndGet()
    val st = stack.get
    val parent =
      if (isRoot) { roots.put(op, id); rootOps.add(op); 0L }
      else if (!st.isEmpty) st.peek
      else if (given > 0) given
      else Option(roots.get(op)).map(_.longValue).getOrElse(0L)
    st.push(id)
    val t0 = System.nanoTime
    try body
    finally {
      val t1 = System.nanoTime
      st.pop()
      spans.add(Span(id, parent, op, layer, name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Ops that opened a root span: the traced timed ops. */
  def ops: Int = rootOps.size

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover (children on other threads may overlap). Every
    * span belongs to a traced timed op, so the sums split those ops' time.
    */
  def selfMsByLayer: Map[String, Double] = {
    val s = all
    val children = s.filter(_.parent != 0).groupBy(_.parent)
    def self(x: Span): Long = x.durNs - Stats.union(children.getOrElse(x.id, Nil)
      .map(c => (math.max(c.startNs, x.startNs), math.min(c.endNs, x.endNs))))
    s.groupBy(_.layer).map { case (l, xs) => l -> xs.map(self).sum / 1e6 }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { x =>
      w.println(s"""{"id":${x.id},"parent":${x.parent},"op":${x.op},"layer":"${x.layer}","name":"${x.name}","start_ns":${x.startNs},"end_ns":${x.endNs}}""")
    } finally w.close()
  }
}

/** Transport counters of the `sources` layer. */
final class SourceCounters extends Serializable {
  val requests = new LongAdder
  val pages = new LongAdder
  val retries = new LongAdder
  val bytesIn = new LongAdder
  val getNanos = new LongAdder
  val getMs = new ConcurrentLinkedQueue[Double]()
}

/** Timing decorator over a base `HttpClient`: counts requests, pages,
  * retryable failures and bytes, and opens a `sources.get` span per call.
  * A traced call sends its span id as `X-Bench-Span`, so the fixture's
  * span for the request nests under it.
  */
final class TimingClient(inner: HttpClient, c: SourceCounters, @transient tracer: Tracer)
    extends HttpClient {
  override def get(req: HttpRequest): HttpResponse = {
    val op = req.headers.collectFirst { case ("X-Bench-Op", v) => v.toLong }.getOrElse(-1L)
    val t0 = System.nanoTime
    c.requests.increment()
    try {
      val r = tracer.span("sources", "sources.get", op) {
        val id = tracer.current
        inner.get(if (id > 0) req.copy(headers = req.headers :+ ("X-Bench-Span" -> id.toString)) else req)
      }
      if (r.status == 429 || r.status >= 500) c.retries.increment()
      else if (r.status < 300) c.pages.increment()
      c.bytesIn.add(r.body.length)
      r
    } catch {
      case e: java.io.IOException => c.retries.increment(); throw e
    } finally {
      val dt = System.nanoTime - t0
      c.getNanos.add(dt)
      c.getMs.add(dt / 1e6)
    }
  }
}

/** A Writer that only counts the characters written to it. */
final class CountingWriter extends java.io.Writer {
  var chars = 0L
  override def write(cbuf: Array[Char], off: Int, len: Int): Unit = chars += len
  override def write(s: String): Unit = chars += s.length
  override def write(c: Int): Unit = chars += 1
  override def flush(): Unit = ()
  override def close(): Unit = ()
}

/** Heap bytes allocated in this JVM, from GC notifications plus the live
  * heap delta, minus what the load generator's own threads allocated.
  */
final class AllocProbe(excludeThreads: () => Iterable[Long]) {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val collected = new AtomicLong
  private val listener: javax.management.NotificationListener = (n, _) => {
    if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val before = info.getGcInfo.getMemoryUsageBeforeGc.values.asScala.map(_.getUsed).sum
      val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      collected.addAndGet(math.max(0L, before - after))
    }
  }
  gcs.foreach(_.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(listener, null, null))

  private def heapUsed: Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getUsage.getUsed).sum
  private def excluded: Long = excludeThreads().iterator.map(id => math.max(0L, mx.getThreadAllocatedBytes(id))).sum
  private def gcMs: Long = gcs.map(_.getCollectionTime).sum

  def mark(): AllocProbe.Mark = AllocProbe.Mark(collected.get, heapUsed, excluded, gcMs)
  /** (program bytes allocated, GC ms) between two marks. */
  def between(a: AllocProbe.Mark, b: AllocProbe.Mark): (Long, Long) =
    ((b.collected - a.collected) + (b.heap - a.heap) - (b.excluded - a.excluded), b.gcMs - a.gcMs)
  def close(): Unit =
    gcs.foreach(g => try g.asInstanceOf[javax.management.NotificationEmitter].removeNotificationListener(listener)
      catch { case _: Throwable => () })
}

object AllocProbe {
  final case class Mark(collected: Long, heap: Long, excluded: Long, gcMs: Long)
}

/** Result of one run of one workload, as the JVM hands it to `run.py`. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, String]()
  def fail(msg: String): Unit = synchronized { failed += 1; if (failures.size < 20) failures += msg }
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  private def str(s: String): String = graft.core.Json.write(graft.core.Json.mapper.valueToTree(s))

  def json(extra: String = ""): String = {
    val m = metrics.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString(",")
    val i = info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")
    val f = failures.map(str).mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{$m},"info":{$i},"failures":[$f]$extra}"""
  }
}
