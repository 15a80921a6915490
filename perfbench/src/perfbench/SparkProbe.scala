package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.graftshim.StageForensics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlExecution

/** Per-op Spark accounting. Ops run one at a time, so task metrics are
  * deltas of the repo's `StageForensics` counters and of a completed-task
  * count between two [[mark]]s; a mark drains the listener bus, which also
  * makes it the quiet point before every op. Jobs and the Catalyst planning
  * time of each SQL execution come from a listener, attributed to an op
  * through the `perfbench.op` local property that [[tagged]] sets.
  */
final class SparkProbe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val forensics = StageForensics.install(sc)
  private val tasks = new LongAdder

  final class Acc {
    var jobs = 0L; var planMs = 0.0
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    var delta = Map.empty[String, Long]
  }
  private val accs = new ConcurrentHashMap[Long, Acc]()
  private val jobOp = new ConcurrentHashMap[Int, (Long, Long)]()
  private val execOp = new ConcurrentHashMap[Long, Long]()
  private def acc(op: Long): Acc = accs.computeIfAbsent(op, _ => new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.Key))).map(_.toLong).foreach { op =>
        val a = acc(op); a.synchronized(a.jobs += 1)
        jobOp.put(e.jobId, (op, e.time))
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach(x => execOp.put(x.toLong, op))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.remove(e.jobId)).foreach { case (op, t0) =>
        val a = acc(op); a.synchronized(a.jobSpans += ((t0, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tasks.add(e.stageInfo.numTasks)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        for (op <- Option(execOp.get(end.executionId)); ms <- SqlExecution.planMs(end)) {
          val a = acc(op); a.synchronized(a.planMs += ms)
        }
      case _ => ()
    }
  }
  sc.addSparkListener(listener)

  def stop(): Unit = { sc.removeSparkListener(listener); sc.removeSparkListener(forensics) }

  /** Counter totals once every posted listener event has been delivered. */
  def mark(): Map[String, Long] = forensics.snapshot(sc) + ("tasks" -> tasks.sum)

  /** Runs `body` with its jobs tagged as op `op`. */
  def tagged[T](op: Long)(body: => T): T = {
    val prev = sc.getLocalProperty(SparkProbe.Key)
    sc.setLocalProperty(SparkProbe.Key, op.toString)
    try body finally sc.setLocalProperty(SparkProbe.Key, prev)
  }

  /** Keeps a tagged op's counter deltas since `before`, its pre-op mark. */
  def record(op: Long, before: Map[String, Long]): Unit = {
    val after = mark()
    acc(op).delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
  }

  /** Per-op means over the given recorded ops, as `spark.<group>.*`
    * metrics. `wallMs` maps op id to the op's wall time (for the driver gap:
    * wall time not covered by any of the op's jobs).
    */
  def report(group: String, wallMs: Map[Long, Double], put: (String, Double, String) => Unit): Unit = {
    val ops = wallMs.keys.toSeq.map(op => op -> Option(accs.get(op)).getOrElse(new Acc))
    val n = math.max(1, ops.size).toDouble
    def mean(f: Acc => Double): Double = ops.map(x => f(x._2)).sum / n
    def d(keys: String*)(a: Acc): Double = keys.map(a.delta.getOrElse(_, 0L)).sum.toDouble
    val gaps = ops.map { case (op, a) => math.max(0.0, wallMs(op) - Stats.union(a.jobSpans.toSeq)) }
    put(s"spark.$group.plan_ms", mean(_.planMs), "ms")
    put(s"spark.$group.jobs", mean(_.jobs.toDouble), "count")
    put(s"spark.$group.tasks", mean(d("tasks")), "count")
    put(s"spark.$group.driver_gap_ms", gaps.sum / n, "ms")
    put(s"spark.$group.exec_run_ms", mean(d("run_ms")), "ms")
    put(s"spark.$group.exec_cpu_ms", mean(d("cpu_ms")), "ms")
    put(s"spark.$group.gc_ms", mean(d("gc_ms")), "ms")
    put(s"spark.$group.input_bytes", mean(d("input_bytes")), "bytes")
    put(s"spark.$group.shuffle_bytes", mean(d("shuffle_bytes_read", "shuffle_bytes_written")), "bytes")
    put(s"spark.$group.spill_bytes", mean(d("mem_spill_bytes", "disk_spill_bytes")), "bytes")
  }
}

object SparkProbe {
  val Key = "perfbench.op"
}
