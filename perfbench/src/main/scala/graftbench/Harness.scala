package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Everything one run shares: the session, its scratch directory, the
  * run's options, outcome counters and (in the traced run) the tracer.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Double, val traced: Boolean, val cores: Int) {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  /** Answers that completed but were wrong (a subset of `failed`). */
  val wrong = new AtomicLong()
  /** Set while a traced slice runs; requests tag their jobs only then. */
  @volatile var tracer: Option[Tracer] = None
  private val reqSeq = new AtomicLong()

  def newReq(kind: String): String = s"$kind-${reqSeq.incrementAndGet()}"

  /** Count one checked answer; a wrong one is a failure. */
  def outcome(ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); wrong.incrementAndGet() }
  }

  /** Count one operation that threw instead of answering. */
  def errored(what: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $what failed: $e")
    attempted.incrementAndGet()
    failed.incrementAndGet()
  }

  /** Catalyst phase durations (analysis, optimization, planning) of
    * traced requests.
    */
  val planMs = new ConcurrentLinkedQueue[(String, Double)]()

  /** Run one request's library calls; when tracing, as phases of one
    * request span: the `pre` calls, the operator call that builds the
    * DataFrame (with its eager jobs), physical planning, and
    * execution.
    */
  def request(req: String, pre: Seq[(String, () => Any)] = Nil)(
      build: => DataFrame): Array[Row] = tracer match {
    case None =>
      pre.foreach(_._2())
      build.collect()
    case Some(t) =>
      t.span(req, "request", "") {
        pre.foreach { case (name, f) => phase(req, name)(f()) }
        val df = phase(req, "operators")(build)
        phase(req, "planning")(df.queryExecution.executedPlan)
        val rows = phase(req, "execute")(df.collect())
        val ph = df.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          ph.get(p).foreach(s => planMs.add((p, s.durationMs.toDouble)))
        }
        rows
      }
  }

  /** Run `f` as the root span of request `req` when tracing. */
  def traced[T](req: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) => t.span(req, "request", "")(f)
  }

  /** Run `f` as phase `name` of request `req` when tracing: a child
    * span of the request, with every Spark job it starts tagged
    * `<req>/<name>` through the job group.
    */
  def phase[T](req: String, name: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) =>
      val sc = spark.sparkContext
      sc.setJobGroup(s"$req/$name", name, interruptOnCancel = false)
      try t.span(req, name, "request")(f) finally sc.clearJobGroup()
  }
}

object Harness {
  /** One completed operation: its class, latency, work units, rows
    * returned and (query, vector) pairs it scored where known up front.
    */
  final case class Op(kind: String, ms: Double, units: Double,
                      rows: Long = 0, pairs: Double = 0, client: Int = 0)

  /** Closed-loop throughput of `units`: per client, units over the time
    * its operations took, summed over clients (Little's law). Unlike
    * units over the window, it does not depend on where the window cut
    * the last in-flight operation.
    */
  def rate(ops: Seq[Op], units: Op => Double): Double =
    ops.groupBy(_.client).values.map(os => os.map(units).sum / (os.map(_.ms).sum / 1000)).sum

  /** Closed loop: each client issues its next operation only when the
    * previous one has returned. Clients stop issuing at the deadline
    * (or after `perClient` operations); the window ends when the last
    * in-flight operation returns. `next` holds each client's operation
    * counter, so the inputs continue across warm-up and measured phases.
    */
  def closedLoop(clients: Int, seconds: Double, next: Array[Long],
                 perClient: Int = Int.MaxValue)(
      body: (Int, Long) => Option[Op]): (Seq[Op], Double) = {
    val ops = new ConcurrentLinkedQueue[Op]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        var n = 0
        while (n < perClient && System.nanoTime() < deadline) {
          body(c, next(c)).foreach(o => ops.add(o.copy(client = c)))
          next(c) += 1
          n += 1
        }
      }, s"client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    (ops.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample, at percentile 100·(n−10)/n. Returns
    * (value, percentile, samples); with fewer than 11 samples there is
    * no such percentile and the maximum is reported at percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** Timed set-up, repeated `reps` times; the median is `setup_s`. */
  def timedReps[T](reps: Int)(f: Int => T): (Seq[Double], T) = {
    var last: Option[T] = None
    val ts = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      last = Some(f(r))
      (System.nanoTime() - t0) / 1e9
    }
    (ts, last.get)
  }

  def dirBytes(path: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(path)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(path)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + java.nio.file.Files.size(p)) }
      finally st.close()
    }

  // ---------------------------------------------------------------- json

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
}

/** What a workload hands back: outcome counts, the gated end-to-end
  * metrics, the named metrics of the workload (printed on the detail
  * line), and the per-layer metrics of a traced run.
  */
final case class Outcome(e2e: Seq[(String, Double, String)],
                         named: Seq[(String, Double, String)],
                         layers: Seq[(String, Double, String)],
                         info: Seq[(String, String)])
