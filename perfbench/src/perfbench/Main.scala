package perfbench

import java.util.concurrent.ConcurrentHashMap

/** What a workload needs from the command line, plus set-up accounting. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double, val trace: Boolean,
    val httpDir: String, val gateDir: String, val tmpDir: String, startMs: Long) {
  val tracer = new Tracer(false)
  val clientThreads: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet[java.lang.Long]()
  var extraJson = ""
  private var repeatedExtraNs = 0L
  var setupS: Double = Double.NaN
  val setupSteps = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Runs a set-up step `reps` times and keeps the last result; the step
    * counts toward `setup_s` at its median duration.
    */
  def timeSetup[T](name: String, reps: Int)(body: => T): T = {
    var out: T = null.asInstanceOf[T]
    val ns = (1 to reps).map { _ => val t0 = System.nanoTime; out = body; System.nanoTime - t0 }
    val med = Stats.median(ns.map(_.toDouble)).toLong
    repeatedExtraNs += ns.sum - med
    setupSteps(name) = med / 1e9
    out
  }

  /** Marks the end of set-up: wall time since the command started, with
    * repeated steps at their median.
    */
  def setupDone(): Unit =
    setupS = (System.currentTimeMillis() - startMs) / 1e3 - repeatedExtraNs / 1e9
}

object Ctx {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Entry point: `Main <workload> <seed> <seconds> <trace 0|1> <http dir>
  * <gate dir> <tmp dir> <out json> <command start epoch ms>`. Writes the run's
  * result as one JSON object to `<out json>` (and, traced, its spans to
  * `<out json>.spans.jsonl`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, httpDir, gateDir, tmpDir, out, startMs) = args
    val ctx = new Ctx(workload, seed.toLong, seconds.toDouble, trace == "1", httpDir, gateDir,
      tmpDir, startMs.toLong)
    val res = workload match {
      case "sync_server" => SyncServer.run(ctx)
      case "scan_spark" => ScanSpark.run(ctx)
      case "gate_suite" => GateSuite.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    res.put("setup_s", ctx.setupS, "s")
    ctx.setupSteps.foreach { case (k, v) => res.info(s"setup.$k") = f"$v%.3f" }
    if (ctx.trace) {
      // per traced timed op; work inside a span that the benchmark cannot
      // wrap (Connector.handle and ProtoWriter inside HttpFrontend) counts
      // as the enclosing span's layer
      ctx.tracer.selfMsByLayer.foreach { case (layer, ms) =>
        res.put(s"trace.self_ms.$layer", ms / math.max(1, ctx.tracer.ops), "ms")
      }
      res.info("spans") = ctx.tracer.all.size.toString
      ctx.tracer.write(s"$out.spans.jsonl")
    }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(res.json(ctx.extraJson)) finally w.close()
  }
}
