package graftbench

import org.apache.spark.BenchHooks

import Harness._

/** The closed loop, untraced (`--trace 0`) or as the traced run
  * (`--trace 1`). The traced run splits the window into quarters,
  * traced, untraced, untraced, traced: both halves sit at the same mean
  * point of the JIT warm-up, so their latency ratio is the tracing
  * overhead. Per-layer metrics come from the traced quarters only.
  */
object Traced {
  /** Warm up with `warmOps` untimed operations per client (their
    * answers are still checked), then measure for `ctx.seconds`.
    */
  def loop(ctx: Ctx, clients: Int, warmOps: Int, body: (Int, Long) => Option[Op],
           primary: String => Boolean = _ => true)
      : (Seq[Op], Double, Seq[(String, Double, String)], Option[Tracer]) = {
    val next = new Array[Long](clients)
    closedLoop(clients, 1e6, next, warmOps)(body)
    if (!ctx.traced) {
      val (ops, wall) = closedLoop(clients, ctx.seconds, next)(body)
      return (ops, wall, Nil, None)
    }
    val sc = ctx.spark.sparkContext
    val t = new Tracer
    val plain = Seq.newBuilder[Op]
    val traced = Seq.newBuilder[Op]
    var wallAll, wallTraced = 0.0
    var gcTraced = 0L
    for (k <- 0 until 4) {
      val on = k == 0 || k == 3
      if (on) { sc.addSparkListener(t); ctx.tracer = Some(t) }
      val g0 = Trace.gcMs()
      val (ops, wall) = closedLoop(clients, ctx.seconds / 4, next)(body)
      wallAll += wall
      if (on) {
        ctx.tracer = None
        BenchHooks.drainListeners(sc)
        sc.removeSparkListener(t)
        traced ++= ops; wallTraced += wall; gcTraced += Trace.gcMs() - g0
      } else plain ++= ops
    }
    val (p, tr) = (plain.result(), traced.result())
    val overhead = median(tr.filter(o => primary(o.kind)).map(_.ms)) /
      median(p.filter(o => primary(o.kind)).map(_.ms)) - 1.0
    (p ++ tr, wallAll, base(ctx, t, tr, wallTraced, gcTraced) :+
      (("trace.overhead_share", overhead, "ratio")), Some(t))
  }

  private def base(ctx: Ctx, t: Tracer, ops: Seq[Op], wall: Double,
                   gcMs: Long): Seq[(String, Double, String)] = {
    val reqs = math.max(1, t.allSpans.count(_.name == "request")).toDouble
    val all = t.workWhere(_.contains("/"))
    val op = t.workWhere(_.endsWith("/operators"))
    val exec = t.workWhere(_.endsWith("/execute"))
    val ivf = t.workWhere(_.startsWith("ivf-"))
    val nIvf = t.allSpans.count(s => s.name == "request" && s.req.startsWith("ivf-")).toDouble
    val spans = t.allSpans
    def meanSpan(n: String) = {
      val xs = spans.filter(_.name == n).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.length
    }
    def meanPlan(p: String) = {
      import scala.jdk.CollectionConverters._
      val xs = ctx.planMs.asScala.filter(_._1 == p).map(_._2)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val rowsOut = ops.map(_.rows).sum
    val pairs = ops.map(_.pairs).sum + ivf.recordsRead
    Seq(
      ("operators.call_ms", meanSpan("operators"), "ms"),
      ("operators.eager_jobs_per_req", op.jobs / reqs, "count"),
      ("planning.analyze_ms", meanPlan("analysis"), "ms"),
      ("planning.optimize_ms", meanPlan("optimization"), "ms"),
      ("planning.physical_ms", meanPlan("planning"), "ms"),
      ("exec.jobs_per_req", all.jobs / reqs, "count"),
      ("exec.stages_per_req", all.stages / reqs, "count"),
      ("exec.tasks_per_req", all.tasks / reqs, "count"),
      ("exec.sched_delay_ms_per_req", all.schedDelayMs / reqs, "ms"),
      ("exec.task_run_ms_per_req", all.runMs / reqs, "ms"),
      ("exec.task_cpu_ms_per_req", all.cpuNs / 1e6 / reqs, "ms"),
      ("exec.core_idle_share",
        math.max(0.0, 1.0 - all.taskWallMs / (ctx.cores * wall * 1000)), "ratio"),
      ("jvm.gc_share", gcMs / (wall * 1000), "ratio"),
      ("scan.bytes_read_per_req", all.bytesRead / reqs, "bytes"),
      ("scan.rows_read_per_row_returned",
        if (rowsOut == 0) 0.0 else all.recordsRead / rowsOut, "ratio"),
      ("kernel.pairs_scored", pairs / reqs, "pairs/req"),
      ("kernel.cpu_ns_per_pair", if (pairs == 0) 0.0 else exec.cpuNs / pairs, "ns"),
      ("ann.rows_read_per_query", if (nIvf == 0) 0.0 else ivf.recordsRead / nIvf, "rows"),
      ("ann.tasks_per_query", if (nIvf == 0) 0.0 else ivf.tasks / nIvf, "count"),
      ("shuffle.bytes_written_per_req", all.shuffleWritten / reqs, "bytes"),
      ("shuffle.fetch_wait_ms", all.fetchWaitMs / reqs, "ms"),
      ("mem.spill_bytes", all.spilled / reqs, "bytes"))
  }
}
