package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.connectors.ConnectorDefs
import graft.core.{Connector, RunConfig}
import graft.sources.{HttpRequest, HttpResponse, JdkHttpClient, PaginatedStream, Pagination}
import graft.sources.v2.{HttpPartition, HttpTableProvider}

/** `scan_spark`: one client cycling through four Spark access paths over
  * the fixture, in blocks that run each path once in a seeded order —
  * `split` (ranged `graft-http` lineitem scan + group-by), `chain`
  * (`graft-http` orders with a pushed cursor filter), `rdf`
  * (`Connector.readDataFrames` events → noop) and `stream` (micro-batch
  * events in capped cursor windows under `Trigger.AvailableNow`).
  */
object ScanSpark {
  val Paths = Seq("split", "chain", "rdf", "stream")
  val WindowRecords = 10000
  val WarmupBlocks = 4
  val StreamBatches = 4

  final case class Op(id: Long, path: String, window: Window) {
    /** CONFIG for the op. `chain` leaves the lower bound to the pushed filter. */
    def config: String = path match {
      case "chain" => s"""{"op":"${id}","orders_to":"${window.hi}"}"""
      case _ => window.config(id)
    }
  }

  /** Op k: each block of four ops runs every path once, in a seeded order. */
  final class Schedule(seed: Long, data: FixtureData) {
    def op(k: Long): Op = {
      val order = Window.shuffled(seed * 7919 + k / Paths.size + 17, Paths.size)
      val path = Paths(order((k % Paths.size).toInt))
      val stream = path match { case "split" => "lineitem"; case "chain" => "orders"; case _ => "events" }
      Op(k, path, Window.draw(stream, WindowRecords, new SplittableRandom(Table.mix(seed * 104729 + k + 3)), data))
    }
  }

  private def httpOptions(op: Op, stream: String): Map[String, String] =
    Map("connector" -> BenchSource.Name, "stream" -> stream, "config" -> op.config)

  /** The op's aggregate, as comparable longs: (group, count, int sums…). */
  type Answer = Seq[Seq[Long]]

  private def agg(cols: Seq[String]): Seq[org.apache.spark.sql.Column] =
    count(lit(1)).as("n") +: cols.map(c => sum(col(c)).cast("long").as(s"s_$c"))

  private def rows(rs: Array[Row]): Answer =
    rs.map(r => (0 until r.length).map(i => r.get(i) match {
      case s: String => s.head.toLong
      case n: Number => n.longValue
      case null => 0L
    })).toSeq.sortBy(_.head)

  private val SplitCols = Seq("l_orderkey", "l_partkey", "l_linenumber")
  private val ChainCols = Seq("o_orderkey", "o_custkey")
  private val EventCols = Seq("event_id", "user_id")

  /** What one op returned: its answer and, for `stream`, the number of
    * micro-batches and the cursor the query ended at.
    */
  final case class Out(answer: Answer, batches: Int = 0, end: Option[String] = None)

  /** Runs one op through Spark. */
  private def runOp(spark: SparkSession, ctx: Ctx, op: Op): Out = op.path match {
    case "split" =>
      val df = spark.read.format("graft-http").options(httpOptions(op, "lineitem"))
        .option("total", op.window.records.toString).load()
      Out(rows(df.groupBy("l_returnflag").agg(agg(SplitCols).head, agg(SplitCols).tail: _*).collect()))
    case "chain" =>
      val df = spark.read.format("graft-http").options(httpOptions(op, "orders")).load()
        .filter(col("updated_at") >= op.window.lo).select(ChainCols.map(col): _*)
      Out(rows(df.agg(agg(ChainCols).head, agg(ChainCols).tail: _*).collect()))
    case "rdf" =>
      val rc = RunConfig("", Some(graft.core.Json.parse(op.config)),
        Map("events" -> graft.core.Json.parse(op.window.state.get)), Some(Set("events")))
      val df = Connector.readDataFrames(spark, ConnectorDefs.all(BenchSource.Name), rc, new JdkHttpClient())("events")
      val obs = Observation(s"rdf${op.id}")
      val a = agg(EventCols)
      df.observe(obs, a.head, a.tail: _*).write.format("noop").mode("overwrite").save()
      val m = obs.get
      Out(Seq(Seq(m("n").asInstanceOf[Number].longValue) ++ EventCols.map(c => m(s"s_$c").asInstanceOf[Number].longValue)))
    case "stream" =>
      val w = op.window
      val spanS = (Table.micros(w.hi) - Table.micros(w.lo)) / 1000000L
      val df = spark.readStream.format("graft-http").options(httpOptions(op, "events"))
        .option("state", w.state.get).option("nowOverride", w.hi)
        .option("maxWindowSeconds", math.max(1L, (spanS + StreamBatches - 1) / StreamBatches).toString).load()
      val a = agg(EventCols)
      val ckpt = s"${ctx.tmpDir}/ckpt-${op.id}"
      val q = df.observe(s"m${op.id}", a.head, a.tail: _*).writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt).start()
      try q.awaitTermination() finally q.stop()
      val progress = q.recentProgress.filter(_.observedMetrics.containsKey(s"m${op.id}"))
      val ms = progress.map(_.observedMetrics.get(s"m${op.id}"))
      def total(f: String) = ms.map(r => Option(r.getAs[Any](f)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)).sum
      // the cursor the query committed last: the check compares the rows
      // delivered with the window up to there, and the shortfall against
      // the whole window is reported, not hidden
      val end = q.recentProgress.reverseIterator.flatMap(p => p.sources.headOption.map(_.endOffset))
        .find(_ != null).map(o => Table.rfc3339(Table.micros(graft.core.Json.parse(o).get("to").asText)))
      Ctx.deleteRecursively(new java.io.File(ckpt))
      Out(Seq(Seq(total("n")) ++ EventCols.map(c => total(s"s_$c"))), progress.count(_.numInputRows > 0), end)
  }

  /** The same queries over the parquet copy of the fixture tables, one
    * Spark query per table: each op's window is a row of a broadcast range
    * table joined on the key column. A stream op is compared with its
    * window up to the cursor it ended at.
    */
  private def expected(spark: SparkSession, ctx: Ctx, samples: Seq[Sample]): Map[Long, Answer] = {
    import spark.implicits._
    def per(table: String, key: String, keyType: String, paths: Set[String], group: Seq[String],
        cols: Seq[String]): Map[Long, Answer] = {
      val ws = samples.filter(x => paths(x.op.path)).map { x =>
        val w = x.op.window
        (x.op.id, w.lo, if (x.op.path == "stream") x.out.end.filter(_ < w.hi).getOrElse(w.hi) else w.hi)
      }
      val r = ws.toDF("_op", "_lo", "_hi")
        .select(col("_op"), col("_lo").cast(keyType).as("_lo"), col("_hi").cast(keyType).as("_hi"))
      val df = spark.read.parquet(s"${ctx.httpDir}/$table.parquet")
        .join(broadcast(r), col(key) >= col("_lo") && col(key) < col("_hi"))
      val a = agg(cols)
      val got = df.groupBy((col("_op") +: group.map(col)): _*).agg(a.head, a.tail: _*).collect()
        .groupBy(_.getLong(0)).map { case (op, rs) => op -> rows(rs.map(r => Row.fromSeq(r.toSeq.tail))) }
      // an empty window has no group; its ungrouped aggregate is all zeros
      val empty: Answer = if (group.isEmpty) Seq(Seq.fill(cols.size + 1)(0L)) else Nil
      ws.map(w => w._1 -> got.getOrElse(w._1, empty)).toMap
    }
    per("lineitem", "l_orderkey", "long", Set("split"), Seq("l_returnflag"), SplitCols) ++
      per("orders", "updated_at", "string", Set("chain"), Nil, ChainCols) ++
      per("events", "updated_at", "string", Set("rdf", "stream"), Nil, EventCols)
  }

  final case class Sample(op: Op, ms: Double, out: Out) {
    /** Rows the op read: the count column, summed over `split`'s groups. */
    def delivered: Long = if (op.path == "split") out.answer.map(_(1)).sum else out.answer.head.head
  }

  /** Direct layer measurements for one traced op, outside its time. */
  final class Layers {
    val partitions = ArrayBuffer[Int]()
    var readerNs = 0L; var readerRecs = 0L; var readerFetchNs = 0L
    var fetchSelfNs = 0L; var fetchRecs = 0L
    val counters = new SourceCounters
    val fetchedPerDelivered = ArrayBuffer[Double]()
  }

  private def drain(ctx: Ctx, l: Layers, stream: PaginatedStream): Long = {
    val before = l.counters.getNanos.sum
    val t0 = System.nanoTime
    var n = 0L
    stream.fetch(new TimingClient(new JdkHttpClient(), l.counters, ctx.tracer)).foreach(_ => n += 1)
    l.fetchSelfNs += (System.nanoTime - t0) - (l.counters.getNanos.sum - before)
    l.fetchRecs += n
    n
  }

  private def measureLayers(ctx: Ctx, op: Op, l: Layers, fixture: Fixture, delivered: Long): Unit = {
    val src = ConnectorDefs.all(BenchSource.Name)
    def runner(s: String) = src.httpStreams.find(_._1.name == s).get._2
    val cfg = Some(graft.core.Json.parse(op.config))
    op.path match {
      case "split" =>
        val opts = httpOptions(op, "lineitem") + ("total" -> op.window.records.toString)
        val table = new HttpTableProvider().getTable(BenchSource.lineitemSchema, Array.empty, opts.asJava)
        val sb = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
          .newScanBuilder(new CaseInsensitiveStringMap(opts.asJava))
        sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
          .pruneColumns(StructType(BenchSource.lineitemSchema.filter(f => (SplitCols :+ "l_returnflag").contains(f.name))))
        val batch = sb.build().toBatch
        val parts = batch.planInputPartitions()
        l.partitions += parts.length
        val factory = batch.createReaderFactory()
        val t0 = System.nanoTime
        parts.foreach { p =>
          val r = factory.createReader(p)
          try while (r.next()) { r.get(); l.readerRecs += 1 } finally r.close()
        }
        l.readerNs += System.nanoTime - t0
        // the same page ranges, drained without row conversion
        val base = runner("lineitem").stream(cfg, None)
        val off = base.pagination.asInstanceOf[Pagination.Offset]
        val f0 = System.nanoTime
        parts.foreach { case p: HttpPartition =>
          val anchored = new Pagination {
            override def first(b: HttpRequest) =
              b.withParam(off.startParam, p.startOffset.toString).withParam(off.numParam, off.num.toString)
            override def next(b: HttpRequest, last: HttpResponse) = off.next(b, last)
          }
          drain(ctx, l, base.copy(pagination = anchored, maxPages = (p.count + off.num - 1) / off.num))
        }
        l.readerFetchNs += System.nanoTime - f0
      case "chain" =>
        drain(ctx, l, runner("orders").stream(cfg,
          Some(graft.core.Json.parse(s"""{"To":"${op.window.lo}"}"""))))
      case "rdf" =>
        drain(ctx, l, runner("events").stream(cfg, op.window.state.map(graft.core.Json.parse)))
      case "stream" =>
        val fetched = Option(fixture.recordsByOp.get(op.id)).map(_.get).getOrElse(0L)
        l.fetchedPerDelivered += fetched.toDouble / math.max(1L, delivered)
    }
  }

  /** Runs whole blocks from `from` on (block b runs ops 4·b … 4·b+3, one
    * per path): `blocks` of them, or (when 0) until `seconds` elapsed.
    * Returns the ops and the ids of the blocks whose ops all succeeded. Ops
    * that `ctx.tracer` traces also get their Spark accounting recorded.
    */
  private def phase(spark: SparkSession, ctx: Ctx, probe: SparkProbe, schedule: Schedule,
      from: Long, blocks: Long, seconds: Double, res: Result): (Seq[Sample], Set[Long]) = {
    val out = ArrayBuffer[Sample]()
    val done = mutable.Set[Long]()
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    var b = from
    while ((blocks > 0 && b < from + blocks) || (blocks <= 0 && System.nanoTime < deadline)) {
      // each block starts with the previous block's garbage collected, and
      // each op with every listener event delivered, outside their time
      System.gc()
      val ok = (0 until Paths.size).map { i =>
        val op = schedule.op(b * Paths.size + i)
        val traced = ctx.tracer.enabled && ctx.tracer.traced(op.id)
        res.attempted += 1
        try {
          val before = probe.mark()
          val s0 = System.nanoTime
          val o =
            if (traced) ctx.tracer.root("spark", s"scan.${op.path}", op.id)(probe.tagged(op.id)(runOp(spark, ctx, op)))
            else runOp(spark, ctx, op)
          val x = Sample(op, (System.nanoTime - s0) / 1e6, o)
          if (traced) probe.record(op.id, before)
          out += x
          true
        } catch { case e: Throwable => res.fail(s"op ${op.id} ${op.path}: ${e.getMessage}"); false }
      }.forall(identity)
      if (ok) done += b
      b += 1
    }
    (out.toSeq, done.toSet)
  }

  /** Checks every sample; failures of `timed` ops go to `res`, others to
    * `warm`.
    */
  private def check(spark: SparkSession, ctx: Ctx, samples: Seq[Sample], timed: Set[Long], res: Result,
      warm: Result): Unit = {
    val want = expected(spark, ctx, samples)
    samples.foreach { s =>
      val exp = want(s.op.id)
      val to = if (timed(s.op.id)) res else warm
      if (exp != s.out.answer) to.fail(s"op ${s.op.id} ${s.op.path}: got ${s.out.answer} expected $exp")
      else if (s.delivered <= 0) to.fail(s"op ${s.op.id} ${s.op.path}: no rows")
    }
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.timeSetup("session_s", 1)(graft.LocalSession.build())
    val data = ctx.timeSetup("fixture_s", 3)(FixtureData.load(ctx.httpDir))
    val fixture = new Fixture(data, ctx.tracer)
    ConnectorDefs.register(BenchSource.source(fixture.base))
    val schedule = new Schedule(ctx.seed, data)
    val probe = new SparkProbe(spark)
    try {
      val warm = new Result
      val (ws, _) = ctx.timeSetup("warmup_s", 1)(phase(spark, ctx, probe, schedule, 0, WarmupBlocks, 0, warm))
      ctx.setupDone()
      // traced runs trace every other block, so each path has traced and
      // untraced ops
      def isTracedBlock(b: Long) = b % 2 == 1
      ctx.tracer.traced = op => isTracedBlock(op / Paths.size)
      ctx.tracer.enabled = ctx.trace
      val fx0 = (fixture.requests.sum, fixture.serveNanos.sum)
      val (all, blocks) = phase(spark, ctx, probe, schedule, WarmupBlocks, 0, ctx.seconds, res)
      ctx.tracer.enabled = false
      val fx1 = (fixture.requests.sum, fixture.serveNanos.sum)
      val traced = (x: Sample) => ctx.trace && isTracedBlock(x.op.id / Paths.size)
      val (ts, s) = all.partition(traced)
      def inWhole(x: Sample) = blocks(x.op.id / Paths.size)
      val recs = all.map(_.op.window.records.toLong).sum
      // latency quantiles over the path ops of whole blocks, so each path
      // weighs the same in every run
      val lat = s.filter(inWhole).map(_.ms)
      Paths.foreach(p => res.put(s"${p}_ms", Stats.median(s.filter(_.op.path == p).map(_.ms)), "ms"))
      // per second of op time: the quiet gaps between ops do not count
      val opS = all.map(_.ms).sum / 1e3
      res.put("records_per_s", recs / opS, "1/s")
      res.put("op_p50_ms", Stats.median(lat), "ms")
      res.put("op_p95_ms", Stats.quantile(lat, 0.95), "ms")
      res.put("work_per_s", recs / opS, "1/s")
      res.put("fixture.busy_ratio", (fx1._2 - fx0._2).toDouble / (opS * 1e9), "ratio")
      // Trigger.AvailableNow stream ops: rows delivered per record in the window
      val streams = all.filter(_.op.path == "stream")
      val deliveredRatio = Stats.median(streams.map(x => x.delivered.toDouble / x.op.window.records))
      res.put("v2.stream_delivered_ratio", deliveredRatio, "ratio")
      res.info("ops") = all.size.toString
      res.info("blocks") = blocks.size.toString
      res.info("stream_delivered_ratio") = f"$deliveredRatio%.4f"
      if (ctx.trace) {
        val l = new Layers
        ts.foreach { x =>
          try measureLayers(ctx, x.op, l, fixture, x.delivered)
          catch { case e: Throwable => res.fail(s"layers of op ${x.op.id}: ${e.getMessage}") }
        }
        val n = math.max(1, all.size).toDouble
        def busyRate(xs: Seq[Sample]) = xs.map(_.op.window.records.toLong).sum / (xs.map(_.ms).sum / 1e3)
        val tLat = ts.filter(inWhole).map(_.ms)
        res.put("trace.d_op_p50_ms", Stats.median(tLat) - Stats.median(lat), "ms")
        res.put("trace.d_op_p95_ms", Stats.quantile(tLat, 0.95) - Stats.quantile(lat, 0.95), "ms")
        res.put("trace.d_work_per_s", busyRate(ts) - busyRate(s), "1/s")
        Paths.foreach(p => probe.report(p, ts.filter(_.op.path == p).map(x => x.op.id -> x.ms).toMap, res.put))
        val c = l.counters
        val drains = math.max(1, ts.count(x => x.op.path != "stream")).toDouble
        res.put("sources.requests", c.requests.sum / drains, "count")
        res.put("sources.pages", c.pages.sum / drains, "count")
        res.put("sources.retries", c.retries.sum / drains, "count")
        res.put("sources.bytes_in", c.bytesIn.sum / drains, "bytes")
        res.put("sources.get_p50_ms", Stats.median(c.getMs.asScala), "ms")
        res.put("sources.fetch_self_us_per_rec", l.fetchSelfNs / 1e3 / math.max(1L, l.fetchRecs), "us")
        res.put("v2.partitions", Stats.median(l.partitions.map(_.toDouble)), "count")
        res.put("v2.reader_us_per_rec", l.readerNs / 1e3 / math.max(1L, l.readerRecs), "us")
        res.put("v2.parse_self_us_per_rec", (l.readerNs - l.readerFetchNs) / 1e3 / math.max(1L, l.readerRecs), "us")
        res.put("v2.stream_batches", Stats.median(streams.map(_.out.batches.toDouble)), "count")
        res.put("v2.stream_fetched_per_delivered", Stats.median(l.fetchedPerDelivered), "ratio")
        res.put("fixture.requests", (fx1._1 - fx0._1) / n, "count")
        res.put("fixture.serve_ms", (fx1._2 - fx0._2) / 1e6 / math.max(1L, fx1._1 - fx0._1), "ms")
      }
      val c0 = System.nanoTime
      // warmup ops are checked too, and count as one failure between them
      check(spark, ctx, ws ++ all, all.map(_.op.id).toSet, res, warm)
      if (warm.failed > 0) res.fail(s"warmup: ${warm.failures.head}")
      res.info("check_s") = f"${(System.nanoTime - c0) / 1e9}%.3f"
    } finally { probe.stop(); fixture.stop() }
    spark.stop()
    res
  }
}
