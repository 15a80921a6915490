package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** `gate_suite`: the analytics gates of `SparkEntry.queries` over the
  * seeded fixture tables, in alphabetical order, each materialized with
  * `noop`, after one untimed warmup pass. The warmup pass also counts each
  * gate's rows (an observed count) for the oracle check, which `run.py`
  * makes with DuckDB outside the timed region.
  */
object GateSuite {
  /** A fixed sample of the 160 gates, small enough that the warmup pass,
    * one timed pass and the DuckDB oracle check fit a run at sf0.1: one ANN
    * mutation gate, and a spread of the other families. The oracles of the
    * other ANN mutation gates take 10–12 s each at sf0.1 (`ann_hot_split`'s
    * spills past 20 GB), so they are left out.
    */
  val Gates: Seq[String] = Seq(
    // ann_write
    "ann_ivfpq_append",
    // ann_read
    "ann_ivf_coarse", "ann_pq_adc",
    // relational
    "q1_pricing_summary", "q3_top_revenue", "q5_local_supplier", "q_cube", "q_window_ranks",
    // curation
    "dedup_minhash_lsh", "emb_kmeans", "mm_phash", "text_tfidf_topk")

  val AnnWrite = Set("ann_reindex", "ann_hot_split", "ann_ivfpq_upsert", "ann_ivfpq_append")

  def family(g: String): String =
    if (AnnWrite(g)) "ann_write"
    else if (g.startsWith("ann_")) "ann_read"
    else if (g.startsWith("q")) "relational"
    else if (Seq("text_", "dedup_", "pipeline_", "emb_", "mm_").exists(g.startsWith)) "curation"
    else "other"

  val Families = Seq("relational", "curation", "ann_read", "ann_write")

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.timeSetup("session_s", 1)(graft.LocalSession.build())
    val all = SparkEntry.queries
    val missing = Gates.filterNot(all.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(",")}")
    val gates = Gates.sorted.map(g => g -> all(g))
    val dir = ctx.gateDir
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    ctx.timeSetup("warmup_s", 1) {
      gates.foreach { case (g, f) =>
        try {
          val obs = Observation(s"warm_$g")
          f(spark, dir).observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          rows(g) = obs.get("n").asInstanceOf[Number].longValue
        } catch { case e: Throwable => res.fail(s"$g (warmup): ${e.getMessage}") }
      }
    }
    ctx.setupDone()

    /** Passes over the gates while another pass is expected to end within
      * `seconds` (at least one); each gate's time is its median over the
      * passes. Traced runs run each gate twice per pass, untraced (even op
      * id) and traced (odd), the order alternating from gate to gate so
      * warm-up drift does not read as tracing overhead. Returns untraced and
      * traced times.
      */
    val passSeconds = ArrayBuffer[Double]()
    val runs = ArrayBuffer[(String, Long, Double)]() // (family, op id, ms)
    def passes(seconds: Double, probe: SparkProbe): (Map[String, Double], Map[String, Double]) = {
      val times = Seq(false, true).map(_ -> gates.map(_._1 -> ArrayBuffer[Double]()).toMap).toMap
      val t0 = System.nanoTime
      var n = 0L
      var passNs = 0L
      do {
        val p0 = System.nanoTime
        gates.zipWithIndex.foreach { case ((g, f), i) =>
          val order = if (!ctx.trace) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
          order.foreach { traced =>
            val op = 2 * n + (if (traced) 1 else 0)
            n += 1
            res.attempted += 1
            val fam = family(g)
            // each gate starts quiet, outside its time: the previous gate's
            // listener events delivered and its garbage collected
            val before = probe.mark()
            System.gc()
            val s0 = System.nanoTime
            try {
              def go(): Unit = f(spark, dir).write.format("noop").mode("overwrite").save()
              if (traced) ctx.tracer.root("spark", s"gate.$g", op)(probe.tagged(op)(go())) else go()
              val ms = (System.nanoTime - s0) / 1e6
              times(traced)(g) += ms
              if (traced) { probe.record(op, before); runs += ((fam, op, ms)) }
            } catch { case e: Throwable => res.fail(s"$g: ${e.getMessage}") }
          }
        }
        passNs = System.nanoTime - p0
        passSeconds += passNs / 1e9
      } while (System.nanoTime - t0 + passNs <= seconds * 1e9)
      def med(m: Map[String, ArrayBuffer[Double]]) = m.collect { case (g, ts) if ts.nonEmpty => g -> Stats.median(ts) }
      (med(times(false)), med(times(true)))
    }

    def put(times: Map[String, Double]): Unit = {
      val suite = times.values.sum / 1e3
      res.put("suite_s", suite, "s")
      Families.foreach(fm => res.put(s"${fm}_s", times.filter(x => family(x._1) == fm).values.sum / 1e3, "s"))
      res.put("op_p50_ms", Stats.median(times.values), "ms")
      res.put("op_p95_ms", Stats.quantile(times.values, 0.95), "ms")
      res.put("work_per_s", times.size / suite, "1/s")
    }

    // traced runs tag the jobs of odd ops and trace them
    val probe = new SparkProbe(spark)
    ctx.tracer.traced = _ % 2 == 1
    ctx.tracer.enabled = ctx.trace
    val (base, traced) = passes(ctx.seconds, probe)
    ctx.tracer.enabled = false
    put(base)
    res.info("gates") = gates.size.toString
    res.info("pass_s") = passSeconds.map(x => f"$x%.3f").mkString(" ")
    res.info("gate_ms") = base.toSeq.sorted.map { case (g, ms) => f"$g=$ms%.0f" }.mkString(" ")
    if (ctx.trace) {
      res.put("trace.d_op_p50_ms", Stats.median(traced.values) - Stats.median(base.values), "ms")
      res.put("trace.d_op_p95_ms", Stats.quantile(traced.values, 0.95) - Stats.quantile(base.values, 0.95), "ms")
      res.put("trace.d_work_per_s", traced.size / (traced.values.sum / 1e3) - base.size / (base.values.sum / 1e3), "1/s")
      Families.foreach(fm => probe.report(fm, runs.filter(_._1 == fm).map(r => r._2 -> r._3).toMap, res.put))
    }
    probe.stop()
    ctx.extraJson = rows.map { case (g, n) =>
      val oracle = SparkEntry.oracleSql.get(g).map(s => graft.core.Json.write(graft.core.Json.mapper.valueToTree(s))).getOrElse("null")
      s"""{"name":"$g","rows":$n,"oracle":$oracle}"""
    }.mkString(""","gates":[""", ",", "]")
    spark.stop()
    res
  }
}
