package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.ByproductCache
import graft.operators.{Dedup, Pipeline}
import org.apache.spark.sql.Row

import Harness._

/** curate_batch: one client runs `Pipeline.cleanCorpus` (quality gate,
  * minhash near-dup clustering, per-source report) job after job, each
  * on a fresh copy of the seeded document shard, so no session memo
  * (`Dedup`'s cluster cache is keyed by table dir) turns a job into a
  * cache hit.
  */
object CurateBatch {
  val Docs = 2000
  val DupShare = 0.1

  def run(ctx: Ctx, setupS: Seq[Double]): Outcome = {
    val s = ctx.spark
    import s.implicits._
    val docs = (0 until Docs).map(i => Gen.doc(ctx.seed, 0, i, DupShare))
    val (reps, shard) = timedReps(setupS.length) { r =>
      val d = s"${ctx.work}/shard-$r"
      docs.map { case (id, src, text) => (id, text, "en", src, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(ctx.cores)
        .write.parquet(s"$d/documents.parquet")
      d
    }
    val setup_s = median(setupS.zip(reps).map { case (a, b) => a + b })
    val outputs = new java.util.concurrent.ConcurrentLinkedQueue[Array[Row]]()

    def one(c: Int, i: Long): Option[Op] = {
      // a fresh table dir per job (copy outside the timed call)
      val dir = s"${ctx.work}/job-$i"
      copyTree(Paths.get(shard), Paths.get(dir))
      ByproductCache.clear()
      val req = ctx.newReq("curate")
      val t0 = System.nanoTime()
      try {
        // the near-dup fixpoint runs as its own call (its memo then
        // serves cleanCorpus), so the trace can separate the two layers
        val rows = ctx.request(req, Seq("Dedup" -> (() =>
          Dedup.nearDupClustersUnsorted(s, dir, 0.5))))(Pipeline.cleanCorpus(s, dir))
        val ms = (System.nanoTime() - t0) / 1e6
        outputs.add(rows)
        Some(Op("curate", ms, Docs, rows.length))
      } catch {
        case e: Exception =>
          ctx.errored("job", e)
          None
      } finally deleteTree(Paths.get(dir))
    }

    val (ops, _, layers, tracer) = Traced.loop(ctx, 1, 1, one)

    // the reference, once per seed, outside the timed window
    val want = Reference.cleanCorpus(docs)
    outputs.asScala.foreach { rows =>
      val got = rows.map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("avg_quality")))).toMap
      // counts exactly; the 4 dp average may differ by one rounding
      // step, since Spark sums the doubles in another order
      ctx.outcome(got.keySet == want.keySet && want.forall { case (src, (n, q)) =>
        got(src)._1 == n && math.abs(got(src)._2 - Reference.round4(q)) <= 1.0001e-4
      })
    }
    val lat = ops.map(_.ms)
    val (tailMs, tailP, tailN) = tail(lat)
    val docsPerS = rate(ops, _.units)
    val extra = tracer.toSeq.flatMap { t =>
      val jobs = math.max(1, t.allSpans.count(_.name == "request")).toDouble
      val dedup = t.allSpans.filter(_.name == "Dedup").map(_.ms).sum / jobs
      val whole = t.allSpans.filter(_.name == "request").map(_.ms).sum / jobs
      Seq(("Dedup.ms", dedup, "ms"), ("Pipeline.ms", whole - dedup, "ms"),
        ("shuffle.bytes_written_per_doc",
          t.workWhere(_.contains("/")).shuffleWritten / (jobs * Docs), "bytes"))
    }
    Outcome(
      e2e = Seq(("setup_s", setup_s, "s"), ("work_per_s", docsPerS, "1/s")),
      named = Seq(("curate_docs_per_s", docsPerS, "docs/s"), ("job_p50_ms", median(lat), "ms"),
        ("job_tail_ms", tailMs, "ms")),
      layers = layers ++ extra,
      info = Seq("tail_percentile" -> num(tailP), "tail_samples" -> tailN.toString,
        "jobs" -> ops.length.toString, "docs_per_job" -> Docs.toString))
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
}
