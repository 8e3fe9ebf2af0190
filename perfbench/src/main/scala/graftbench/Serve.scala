package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.operators.{Ann, ScalarOps, SearchApi}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import Harness._

/** A seeded `(id, vec array<float>, label int)` corpus, written as a
  * parquet table the library reads through `Tables`, and its
  * in-memory copy for the answer checks.
  */
final class Corpus(val seed: Long, val n: Int) {
  val centres: Array[Array[Float]] = Gen.centres(seed)
  lazy val vecs: Array[Array[Float]] =
    (0 until n).par.map(i => Gen.vec(seed, centres, i.toLong)).toArray
  lazy val labels: Array[Int] = Array.tabulate(n)(i => Gen.label(seed, i.toLong))
  lazy val ids: Array[Long] = Array.tabulate(n)(_.toLong)

  def write(s: SparkSession, dir: String, parts: Int): Unit = {
    import s.implicits._
    val (sd, cs) = (seed, centres)
    s.range(0, n.toLong, 1, parts)
      .map(id => (id.longValue, Gen.vec(sd, cs, id), Gen.label(sd, id)))
      .toDF("id", "vec", "label")
      .write.parquet(s"$dir/corpus.parquet")
  }

  def table(s: SparkSession, dir: String): DataFrame = Tables.table(s, dir, "corpus")
}

/** serve_point: one query vector per request, four closed-loop
  * clients, mix 40% exact FLAT (`SearchApi.searchRequests`, metric and
  * filter carried per request), 40% IVF (`Ann.ivfSearchIndexed`), 20%
  * point lookups of 1-10 ids (`ScalarOps.pointLookup`).
  */
object ServePoint {
  val N = 10000
  val K = 10
  val Nprobe = 2

  private sealed trait Req { def kind: String }
  private final case class Flat(q: Array[Float], metric: String, fop: Option[String],
                                fval: Int, got: Seq[(Long, Double)]) extends Req { def kind = "flat" }
  private final case class Ivf(q: Array[Float], got: Seq[(Long, Double)]) extends Req { def kind = "ivf" }
  private final case class Lookup(ids: Seq[Long], got: Seq[Row]) extends Req { def kind = "lookup" }

  def setup(ctx: Ctx, corpus: Corpus, rep: Int): String = {
    val dir = s"${ctx.work}/serve-$rep"
    corpus.write(ctx.spark, dir, 2 * ctx.cores)
    Ann.ivfBuildIndex(ctx.spark, corpus.table(ctx.spark, dir), s"$dir/ivf")
    dir
  }

  def run(ctx: Ctx, setupS: Seq[Double]): Outcome = {
    val s = ctx.spark
    import s.implicits._
    val corpus = new Corpus(ctx.seed, N)
    val (reps, dir) = timedReps(setupS.length)(r => setup(ctx, corpus, r))
    val setup_s = median(setupS.zip(reps).map { case (a, b) => a + b })
    val index = s"$dir/ivf"
    val done = new ConcurrentLinkedQueue[Req]()
    val labels = corpus.labels

    def one(c: Int, i: Long): Option[Op] = {
      val r = Gen.rng(ctx.seed, 200 + c, i)
      val q = Gen.query(ctx.seed, corpus.centres, c, i, N)
      val t0 = System.nanoTime()
      try {
        // each block of five requests is a seeded permutation of the
        // mix (FLAT, FLAT, IVF, IVF, lookup): exact proportions, and
        // clients do not fall into lockstep on one request type
        val block = Gen.rng(ctx.seed, 250 + c, i / 5).ints(5, 0, 1 << 30).toArray
        val kind = Seq(0, 0, 1, 1, 2).zip(block).sortBy(_._2).map(_._1)((i % 5).toInt)
        val req: Req = kind match {
          case 0 =>
            val metric = Seq("L2", "IP", "L1")(r.nextInt(3))
            val fop = Seq(None, Some("="), Some("!="))(r.nextInt(3))
            val fval = labels(r.nextInt(N))
            val rows = ctx.request(ctx.newReq("flat")) {
              val reqs = Seq((c * 1000000L + i, q, K, metric, fop, fval))
                .toDF("qid", "qvec", "k", "metric", "fop", "fval")
              SearchApi.searchRequests(corpus.table(s, dir), reqs, K)
            }
            Flat(q, metric, fop, fval, rows.map(x => (x.getAs[Long]("nn_id"), x.getAs[Double]("score"))).toSeq)
          case 1 =>
            val rows = ctx.request(ctx.newReq("ivf")) {
              Ann.ivfSearchIndexed(s, index,
                Seq((c * 1000000L + i, q)).toDF("qid", "qvec"), K, Nprobe)
            }
            Ivf(q, rows.map(x => (x.getAs[Long]("nn_id"), x.getAs[Double]("score"))).toSeq)
          case _ =>
            val ids = Seq.fill(1 + r.nextInt(10))((r.nextLong() >>> 1) % N)
            val rows = ctx.request(ctx.newReq("lookup")) {
              ScalarOps.pointLookup(corpus.table(s, dir), "id", ids)
            }
            Lookup(ids, rows.toSeq)
        }
        val ms = (System.nanoTime() - t0) / 1e6
        done.add(req)
        Some(req match {
          case f: Flat => Op("flat", ms, 1, f.got.length, labels.count(l =>
            f.fop.isEmpty || (f.fop.contains("=") == (l == f.fval))))
          case v: Ivf => Op("ivf", ms, 1, v.got.length)
          case l: Lookup => Op("lookup", ms, 1, l.got.length)
        })
      } catch {
        case e: Exception =>
          ctx.errored("request", e)
          None
      }
    }

    val (ops, wall, layers, _) = Traced.loop(ctx, ctx.cores, 5, one)

    // answer checks, outside the timed window
    val vecs = corpus.vecs
    val reqs = done.asScala.toSeq
    val checks = reqs.par.map {
      case f: Flat =>
        val pass: Int => Boolean = f.fop match {
          case None => _ => true
          case Some("=") => j => labels(j) == f.fval
          case Some(_) => j => labels(j) != f.fval
        }
        val exact = Reference.topK(vecs, corpus.ids, f.q, f.metric, K, pass)
        val ok = Reference.sameTopK(f.got, exact, f.metric, id =>
          Some(Reference.scoreOfKey(f.metric, Reference.keyOf(f.metric, vecs(id.toInt), f.q))))
        (ok, Double.NaN)
      case v: Ivf =>
        val exact = Reference.topK(vecs, corpus.ids, v.q, "COS", K, _ => true)
        val ids = v.got.map(_._1)
        // every returned id must carry its own cosine score, in order
        val ok = v.got.length == K && ids.distinct.length == K &&
          v.got.forall { case (id, sc) => Reference.round4(Reference.cosine(vecs(id.toInt), v.q)) == sc } &&
          v.got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
        (ok, exact.map(_._1).count(ids.toSet).toDouble / K)
      case l: Lookup =>
        val want = l.ids.distinct.sorted
        val got = l.got.map(r => r.getAs[Long]("id")).sorted
        val ok = got == want && l.got.forall { r =>
          val id = r.getAs[Long]("id").toInt
          r.getAs[scala.collection.Seq[Float]]("vec").toArray.sameElements(vecs(id)) &&
            r.getAs[Int]("label") == labels(id)
        }
        (ok, Double.NaN)
    }.seq
    checks.foreach(c => ctx.outcome(c._1))
    val recall = checks.map(_._2).filterNot(_.isNaN)

    val search = ops.filter(o => o.kind == "flat" || o.kind == "ivf").map(_.ms)
    val (tailMs, tailP, tailN) = tail(search)
    val qps = rate(ops, o => if (o.kind == "lookup") 0 else 1)
    Outcome(
      e2e = Seq(("setup_s", setup_s, "s"), ("work_per_s", qps, "1/s")),
      named = Seq(("search_p50_ms", median(search), "ms"), ("search_tail_ms", tailMs, "ms"),
        ("search_qps", qps, "req/s"),
        ("flat_p50_ms", median(ops.filter(_.kind == "flat").map(_.ms)), "ms"),
        ("ivf_p50_ms", median(ops.filter(_.kind == "ivf").map(_.ms)), "ms"),
        ("lookup_p50_ms", median(ops.filter(_.kind == "lookup").map(_.ms)), "ms"),
        ("recall_at_10", if (recall.isEmpty) Double.NaN else recall.sum / recall.length, "ratio")),
      layers = layers,
      info = Seq("tail_percentile" -> num(tailP), "tail_samples" -> tailN.toString,
        "requests" -> ops.length.toString, "window_s" -> num(wall)))
  }
}
