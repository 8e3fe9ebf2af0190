package graftbench

import graft.GraftSession

import Harness._

/** Benchmark entry point. Runs one workload against the library, in
  * process, and prints a detail line and then the result line:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  *
  * {{{ Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> }}}
  */
object Main {
  /** Every per-layer metric, in print order; a layer a workload does
    * not exercise reports 0.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "operators.call_ms" -> "ms", "operators.eager_jobs_per_req" -> "count",
    "planning.analyze_ms" -> "ms", "planning.optimize_ms" -> "ms",
    "planning.physical_ms" -> "ms",
    "exec.jobs_per_req" -> "count", "exec.stages_per_req" -> "count",
    "exec.tasks_per_req" -> "count", "exec.sched_delay_ms_per_req" -> "ms",
    "exec.task_run_ms_per_req" -> "ms", "exec.task_cpu_ms_per_req" -> "ms",
    "exec.core_idle_share" -> "ratio", "jvm.gc_share" -> "ratio",
    "scan.bytes_read_per_req" -> "bytes", "scan.rows_read_per_row_returned" -> "ratio",
    "kernel.pairs_scored" -> "pairs/req", "kernel.cpu_ns_per_pair" -> "ns",
    "ann.rows_read_per_query" -> "rows", "ann.tasks_per_query" -> "count",
    "publish.bytes_written_per_user_byte" -> "ratio",
    "publish.files_written_per_batch" -> "count",
    "publish.cells_touched_per_batch" -> "count",
    "index.files_total" -> "count", "index.bytes_total" -> "bytes",
    "wal.bytes_per_user_byte" -> "ratio", "wal.replay_ms" -> "ms",
    "Dedup.ms" -> "ms", "Pipeline.ms" -> "ms",
    "shuffle.bytes_written_per_req" -> "bytes", "shuffle.bytes_written_per_doc" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "mem.spill_bytes" -> "bytes",
    "trace.overhead_share" -> "ratio")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, work, seed, seconds, traced, cores)
    val out = try workload match {
      case "serve_point"  => ServePoint.run(ctx, Seq.fill(1)(sessionS))
      case "ingest_mixed" => IngestMixed.run(ctx, Seq.fill(1)(sessionS))
      case "curate_batch" => CurateBatch.run(ctx, Seq.fill(3)(sessionS))
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()

    val info = out.info.map { case (k, v) => s""""$k": ${if (v.forall(c => c.isDigit || c == '.' || c == '-')) v else "\"" + v + "\""}""" }
    println(s"""{"detail": {"workload": "$workload", "seed": $seed, "named": ${metricsJson(out.named)}${info.map(", " + _).mkString}}}""")
    val metrics =
      if (traced) {
        val got = out.layers.map(m => m._1 -> m._2).toMap
        LayerMetrics.map { case (n, u) => (n, got.get(n).filterNot(_.isNaN).getOrElse(0.0), u) }
      } else out.e2e
    val failed = ctx.failed.get
    println(s"""{"correct": ${ctx.wrong.get == 0}, "attempted": ${ctx.attempted.get}, "failed": $failed, "metrics": ${metricsJson(metrics)}}""")
  }
}
